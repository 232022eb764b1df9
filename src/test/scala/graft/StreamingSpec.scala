package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{NetflowStreams, RunningTotals, RunningZScore, SessionizeStream}

/** Streaming behavior over finite inputs (Trigger.AvailableNow →
  * deterministic results, SURVEY.md §7.3): parse pipeline on a memory
  * stream, the file-JSON source with the reference's options, windowed
  * bytes with watermark, and stateful sessionization agreeing with the
  * batch operator.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def raw(ip_src: String, ip_dst: String, bytes: Long, ts: String): String =
    s"""{"event_type":"purge","ip_src":"$ip_src","ip_dst":"$ip_dst","port_src":1,"port_dst":2,
       |"ip_proto":"tcp","timestamp_start":"$ts","timestamp_arrival":"$ts","packets":1,"bytes":$bytes}"""
      .stripMargin.replace("\n", "")

  test("memory stream → parse → windowed bytes (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    in.addData(
      raw("a", "b", 100, "2019-11-11 06:18:01.000000"),
      raw("a", "b", 50, "2019-11-11 06:18:09.000000"),
      raw("a", "b", 7, "2019-11-11 06:18:11.000000"),
    )
    val parsed = NetflowStreams.parseKafkaNetflow(in.toDF().select(col("value").cast("binary").as("value")))
    val agg = NetflowStreams.windowedBytes(parsed)
    NetflowStreams.runToMemory(agg, "win_test", outputMode = "complete")
    val rows = spark.table("win_test")
      .select(col("window_start").cast("string"), col("bytes")).as[(String, Long)].collect().toMap
    assert(rows("2019-11-11 06:18:00") == 150L)
    assert(rows("2019-11-11 06:18:10") == 7L)
  }

  test("streaming file-JSON source with explicit schema + multiLine (S2 parity)") {
    val dir = Files.createTempDirectory("tshark").toFile
    val json =
      """[{"_source": {"layers": {
        |  "frame": {"frame.time_epoch": "1573538280.5"},
        |  "ip": {"ip.dst": "10.0.0.2", "ip.src": "10.0.0.1", "ip.version": "4"},
        |  "tcp": {"tcp.dstport": "443", "tcp.flags": "0x18", "tcp.srcport": "51000"}}}}]""".stripMargin
    Files.writeString(new java.io.File(dir, "cap.json").toPath, json)
    val src = NetflowStreams.jsonFileSource(spark, dir.getAbsolutePath)
    val flat = NetflowStreams.parseTshark(src)
    NetflowStreams.runToMemory(flat, "tshark_test")
    val r = spark.table("tshark_test").collect().head
    assert(r.getAs[String]("ip_dst") == "10.0.0.2")
    assert(r.getAs[Timestamp]("datetime").getTime == 1573538280500L)
  }

  test("maxFilesPerTrigger=1 admits one file per micro-batch (S2 admission control)") {
    val dir = Files.createTempDirectory("tshark_multi").toFile
    val json = (ip: String) =>
      s"""[{"_source": {"layers": {
         |  "frame": {"frame.time_epoch": "1573538280.5"},
         |  "ip": {"ip.dst": "$ip", "ip.src": "10.0.0.1", "ip.version": "4"},
         |  "tcp": {"tcp.dstport": "443", "tcp.flags": "0x18", "tcp.srcport": "51000"}}}}]""".stripMargin
    Files.writeString(new java.io.File(dir, "cap1.json").toPath, json("10.0.0.2"))
    Files.writeString(new java.io.File(dir, "cap2.json").toPath, json("10.0.0.3"))
    val src = NetflowStreams.jsonFileSource(spark, dir.getAbsolutePath, maxFilesPerTrigger = 1)
    val q = NetflowStreams.runToMemory(NetflowStreams.parseTshark(src), "admission_test")
    assert(spark.table("admission_test").count() == 2)
    // One file per trigger → at least two micro-batches processed rows.
    val batchesWithRows = q.recentProgress.count(_.numInputRows > 0)
    assert(batchesWithRows >= 2, s"expected >= 2 row-bearing batches, got $batchesWithRows")
  }

  test("foreachBatch store sink appends micro-batches as parquet (K1/K3 fix)") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("store_sink").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("store_ckpt").toFile.getAbsolutePath
    val in = MemoryStream[String]
    in.addData(
      raw("a", "b", 100, "2019-11-11 06:18:01.000000"),
      raw("c", "d", 50, "2019-11-11 06:18:02.000000"),
    )
    val parsed = NetflowStreams.parseKafkaNetflow(
      in.toDF().select(col("value").cast("binary").as("value")),
    )
    val q = NetflowStreams
      .storeSink(parsed, s"$out/table", ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stored = spark.read.parquet(s"$out/table")
    assert(stored.count() == 2)
    assert(stored.columns.contains("protocol")) // curated 9-field schema landed
    // Observed pipeline metrics rode along with the batch.
    val metrics = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("store_metrics")))
    assert(metrics.exists(m => m.getAs[Long]("rows") == 2L && m.getAs[Long]("bytes") == 150L))
  }

  test("store sink replay of a batch whose commit was lost keeps every row exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("store_replay").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("store_replay_ckpt").toFile.getAbsolutePath
    val in = MemoryStream[String]
    val parsed = NetflowStreams.parseKafkaNetflow(in.toDF().select(col("value").cast("binary").as("value")))
    def start() = NetflowStreams
      .storeSink(parsed, s"$out/table", ckpt, org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    try {
      in.addData(raw("a", "b", 100, "2019-11-11 06:18:01.000000"), raw("c", "d", 50, "2019-11-11 06:18:02.000000"))
      q1.processAllAvailable()
      in.addData(raw("e", "f", 7, "2019-11-11 06:18:03.000000"))
      q1.processAllAvailable()
    } finally q1.stop()
    // Batch 1 wrote its rows, but its commit never reached the log.
    Seq("1", ".1.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete())
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    assert(q2.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == 1), "batch 1 must re-run")
    val stored = spark.read.parquet(s"$out/table")
    assert(stored.schema("batch_id").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = stored.select("batch_id", "ip_src", "bytes").as[(Int, String, Long)].collect().sorted.toSeq
    assert(rows == Seq((0, "a", 100L), (0, "c", 50L), (1, "e", 7L)))
  }

  test("streaming dedup drops within-watermark duplicates with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val dup = raw("a", "b", 100, "2019-11-11 06:18:01.000000")
    in.addData(dup, dup, raw("a", "b", 50, "2019-11-11 06:18:09.000000"), dup)
    val parsed = NetflowStreams
      .parseKafkaNetflow(in.toDF().select(col("value").cast("binary").as("value")))
      .withColumn("ts", to_timestamp(col("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val deduped = NetflowStreams.dedupStream(
      parsed,
      keys = Seq("ip_src", "ip_dst", "port_src", "port_dst", "protocol", "timestamp"),
      eventTimeCol = "ts",
      delay = "10 minutes",
    )
    NetflowStreams.runToMemory(deduped, "dedup_test")
    assert(spark.table("dedup_test").count() == 2) // 3 copies + 1 distinct → 2
  }

  test("streaming fan-out profile matches the batch distinct-port counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // Scanner s1 probes ports 80,81,81,82 on day 1 (81 re-delivered →
    // must count once) and port 80 again on day 2 (new day → counts
    // again); quiet host s2 touches one port. Late event beyond the
    // final watermark would be dropped — all data here is in-horizon.
    val rows = Seq(
      ("s1", 80, "2024-01-01 10:00:00"), ("s1", 81, "2024-01-01 10:00:05"),
      ("s1", 81, "2024-01-01 10:00:06"), ("s1", 82, "2024-01-01 10:00:07"),
      ("s2", 443, "2024-01-01 11:00:00"),
      ("s1", 80, "2024-01-02 09:00:00"),
      // watermark pusher closing both day windows
      ("zz", 1, "2024-01-03 12:00:00"),
    ).map { case (s, p, t) => (s, p, Timestamp.valueOf(t)) }
    val in = MemoryStream[(String, Int, Timestamp)]
    in.addData(rows)
    val flows = in.toDF().toDF("ip_src", "port_dst", "ts")
    NetflowStreams.runToMemory(NetflowStreams.fanOutStream(flows, "1 hour"), "fanout_test")
    val got = spark.table("fanout_test")
      .select("day", "ip_src", "n_ports").as[(String, String, Long)].collect().toSet
    assert(got.contains(("2024-01-01", "s1", 3L)))
    assert(got.contains(("2024-01-01", "s2", 1L)))
    assert(got.contains(("2024-01-02", "s1", 1L)))
    // Batch parity: the streaming counts equal fanOutProfile's n_ports.
    val batch = graft.operators.NetflowOps
      .fanOutProfile(
        rows.toDF("ip_src", "port_dst", "ts")
          .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
            col("ip_src"), col("ip_src").as("ip_dst"), col("port_dst")),
        scanThreshold = 3)
      .select("day", "ip_src", "n_ports").as[(String, String, Long)].collect().toSet
    // The pusher's own still-open day-3 window is the one batch row
    // streaming can't have emitted yet.
    assert(got == batch.filterNot(_._1 == "2024-01-03"))
  }

  test("stream-static join enriches flows against a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val hosts = Seq(("a", "serverA"), ("b", "serverB")).toDF("ip", "host_name")
    val in = MemoryStream[String]
    in.addData(raw("a", "b", 100, "2019-11-11 06:18:01.000000"))
    val parsed = NetflowStreams
      .parseKafkaNetflow(in.toDF().select(col("value").cast("binary").as("value")))
    val enriched = parsed.join(hosts, parsed("ip_src") === hosts("ip"))
      .select(col("ip_src"), col("host_name"), col("bytes"))
    NetflowStreams.runToMemory(enriched, "enrich_test")
    val r = spark.table("enrich_test").as[(String, String, Long)].collect().toSeq
    assert(r == Seq(("a", "serverA", 100L)))
  }

  test("LPM enrichment is batch/stream unified (T5): same transform, identical rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq(
      ("10.0.0.0", 8, "net10"),
      ("10.32.0.0", 16, "campus32"),
      ("10.32.64.0", 24, "rack64"),
    ).toDF("prefix_ip", "prefix_len", "tag")
    val flows = Seq(
      (1L, "10.32.64.9"), // /24 wins over /16 and /8
      (2L, "10.32.9.9"), // /16 wins over /8
      (3L, "10.9.9.9"), // /8 only
      (4L, "172.16.0.1"), // unmatched → NULLs
      (5L, "not-an-ip"), // malformed → NULLs
    )
    val batch = graft.operators.NetflowOps
      .lpmEnrich(flows.toDF("id", "ip"), dim)
      .as[(Long, String, Option[String], Option[Int], Option[String])].collect().toSet
    assert(batch == Set(
      (1L, "10.32.64.9", Some("10.32.64.0"), Some(24), Some("rack64")),
      (2L, "10.32.9.9", Some("10.32.0.0"), Some(16), Some("campus32")),
      (3L, "10.9.9.9", Some("10.0.0.0"), Some(8), Some("net10")),
      (4L, "172.16.0.1", None, None, None),
      (5L, "not-an-ip", None, None, None),
    ))
    // The SAME operator over an unbounded frame (stream-static broadcast
    // joins are streamable; the length scan happens at plan time on the
    // static dim) — rows must be identical to the batch run.
    val in = MemoryStream[(Long, String)]
    in.addData(flows)
    val streamed = graft.operators.NetflowOps.lpmEnrich(in.toDF().toDF("id", "ip"), dim)
    NetflowStreams.runToMemory(streamed, "lpm_stream_test")
    val got = spark.table("lpm_stream_test")
      .as[(Long, String, Option[String], Option[Int], Option[String])].collect().toSet
    assert(got == batch)
  }

  test("streaming frame match screens video uploads against the stored image index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{IndexCatalog, MediaIndexOps, MultimodalOps}
    val prefix = "framescreen"
    Seq(s"${prefix}_fps", s"${prefix}_chunks", s"${prefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val media = MultimodalOps.encodeMedia(Tables.documents(spark, Sf))
    MediaIndexOps.writeIndex(media, regions = 49, blockBands = 6, buckets = 4, prefix = prefix)
    val videoRows = media.filter(col("media_type") === "video")
      .select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String, Array[Byte])]
    val collected = scala.collection.mutable.Buffer[(Long, Long, Int)]()
    val ckpt = Files.createTempDirectory("frame_screen").toFile.getAbsolutePath
    val q = IndexCatalog.stream(in.toDF().toDF("doc_id", "media_type", "payload"), ckpt) {
      (batch, _) =>
        collected ++= MediaIndexOps.frameMatchAgainstIndex(
          spark, prefix, batch, regions = 49, blockBands = 6, maxHamming = 5,
        ).as[(Long, Long, Int)].collect()
    }
    val fpsBefore = spark.table(s"${prefix}_fps").count()
    val waves = videoRows.grouped(videoRows.length / 2 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    // The screen is read-only on the index, so batches are independent
    // and the union over waves must equal the corpus-scan operator
    // (itself pinned by its DuckDB oracle) exactly.
    val expected = MultimodalOps.frameMatchPairs(media, 49, 6, 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(collected.nonEmpty && collected.toSet == expected,
      s"got ${collected.size} rows, expected ${expected.size}")
    assert(spark.table(s"${prefix}_fps").count() == fpsBefore,
      "a blocklist screen must not grow the index")
  }

  test("streaming text↔media screen is batch/stream unified (T5): identical verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.MultimodalOps
    val corpus = Tables.documents(spark, Sf)
    val bands = Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7))
    val docRows = corpus.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.Buffer[(Long, Long, Double, Boolean)]()
    val ckpt = Files.createTempDirectory("text_screen").toFile.getAbsolutePath
    val q = MultimodalOps.streamingTextMediaScreen(
      corpus, in.toDF().toDF("doc_id", "text"),
      threshold = 0.999, bands = bands, blockMod = 10, checkpoint = ckpt,
      onVerdicts = (v, _) => collected ++= v.as[(Long, Long, Double, Boolean)].collect(),
    )
    val waves = docRows.grouped(docRows.length / 3 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    // A verdict depends only on the document and the standing held set,
    // so the union over waves must equal the batch face (itself pinned
    // by its DuckDB oracle) exactly — every doc exactly once.
    val expected = MultimodalOps.textMediaScreen(corpus, 0.999, bands, 10)
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(collected.nonEmpty && collected.size == docRows.length)
    assert(collected.toSet == expected,
      s"got ${collected.size} verdicts, expected ${expected.size}")
    assert(collected.exists(_._4), "the template corpus must flag some documents")
  }

  test("streaming upload verdict is batch/stream unified: identical verdicts, index untouched") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{IndexCatalog, MediaIndexOps, MultimodalOps}
    val prefix = "uploadverdictstream"
    Seq("_fps", "_chunks", "_meta", "_batches")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $prefix$sfx"))
    val media = MultimodalOps.encodeMedia(Tables.documents(spark, Sf))
    val stored = media.filter(col("doc_id") % 5 =!= 0)
    MediaIndexOps.writeIndex(stored, 49, 6, buckets = 4, prefix = prefix)
    MediaIndexOps.writeMetaTable(stored, buckets = 4, prefix = prefix)
    val arrivals = media.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String, Array[Byte])]
    val collected = scala.collection.mutable.Buffer[(Long, String, Option[Long])]()
    val ckpt = Files.createTempDirectory("upload_verdict").toFile.getAbsolutePath
    val (floor, label) = MultimodalOps.imageFloor(16384L)
    val fpsBefore = spark.table(s"${prefix}_fps").count()
    val q = IndexCatalog.stream(in.toDF().toDF("doc_id", "media_type", "payload"), ckpt) {
      (batch, _) =>
        collected ++= MediaIndexOps.uploadVerdict(
          spark, prefix, batch, regions = 49, blockBands = 6, maxHamming = 5, floor, label,
        ).as[(Long, String, Option[Long])].collect()
    }
    val waves = arrivals.grouped(arrivals.length / 3 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    // A verdict depends only on the arrival and the standing index, so
    // the union over waves must equal the batch face (itself pinned by
    // its DuckDB oracle) exactly — every image arrival exactly once.
    val expected = MediaIndexOps.uploadVerdict(
      spark, prefix, media.filter(col("doc_id") % 5 === 0), 49, 6, 5, floor, label)
      .as[(Long, String, Option[Long])].collect()
    assert(collected.nonEmpty && collected.size == expected.length)
    assert(collected.toSet == expected.toSet)
    assert(collected.exists(_._2 == "near_dup"), "template corpus must surface near-dups")
    assert(spark.table(s"${prefix}_fps").count() == fpsBefore,
      "an upload verdict must not grow the index")
  }

  test("TEXT streaming upload verdict is batch/stream unified: identical verdicts, index untouched") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{IndexCatalog, LshIndexOps}
    val prefix = "txuploadstream"
    Seq("_docs", "_bands", "_meta", "_batches")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $prefix$sfx"))
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val stored = docs.filter(col("doc_id") % 5 =!= 0)
    LshIndexOps.writeIndex(stored, n = 3, k = 32, bands = 8, buckets = 4, prefix = prefix)
    LshIndexOps.writeMetaTable(stored, buckets = 4, prefix = prefix)
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.Buffer[(Long, String, Option[Long])]()
    val ckpt = Files.createTempDirectory("tx_upload_verdict").toFile.getAbsolutePath
    val docsBefore = spark.table(s"${prefix}_docs").count()
    val q = IndexCatalog.stream(in.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      collected ++= LshIndexOps.uploadVerdict(
        spark, prefix, batch, n = 3, k = 32, bands = 8, threshold = 0.8, minTok = 20L,
      ).as[(Long, String, Option[Long])].collect()
    }
    val waves = arrivals.grouped(arrivals.length / 3 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    // A verdict depends only on the arrival and the standing index, so
    // the union over waves must equal the batch face (itself pinned by
    // its DuckDB oracle) exactly — every arrival exactly once.
    val expected = LshIndexOps.uploadVerdict(
      spark, prefix, docs.filter(col("doc_id") % 5 === 0),
      n = 3, k = 32, bands = 8, threshold = 0.8, minTok = 20L)
      .as[(Long, String, Option[Long])].collect()
    assert(collected.nonEmpty && collected.size == expected.length)
    assert(collected.toSet == expected.toSet)
    assert(spark.table(s"${prefix}_docs").count() == docsBefore,
      "an upload verdict must not grow the index")
  }

  test("vector-index streaming ingest: union over waves equals the batch face, tombstones honored") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{IndexCatalog, SimilarityOps, VectorIndexOps}
    val streamPre = "vecsting"
    val batchPre = "vecbting"
    Seq(streamPre, batchPre).foreach(p =>
      Seq("codebook", "vectors", "cellstats", "tombstones", "batches")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")))
    val emb = Tables.embeddings(spark, Sf)
    val rows = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    val cut = rows(rows.length / 2)._1
    val (seed, rest) = rows.partition(_._1 < cut)
    // Train ONCE and share — both indexes must hold the same frozen
    // coarse quantizer for the faces to be comparable bit-for-bit.
    val seedDf = seed.toSeq.toDF("vec_id", "embedding")
    val cb = SimilarityOps.trainCodebook(
      seedDf, blocks = 1, subDim = 64, isSeed = col("vec_id") < 8, iters = 2)
    Seq(streamPre, batchPre).foreach(p =>
      VectorIndexOps.writeIndex(
        seedDf, dim = 64, isSeed = col("vec_id") < 8, iters = 2, buckets = 4,
        prefix = p, codebook = Some(cb)))
    // Two deletes from the seeded corpus: delGone stays deleted across
    // the whole stream; delBack is RE-INSERTED by the second wave (the
    // purge-then-append path under a running stream).
    val delGone = seed.head._1
    val delBack = seed(seed.length / 2)._1
    val dels = Seq(delGone, delBack).toDF("vec_id")
    Seq(streamPre, batchPre).foreach(p => VectorIndexOps.deleteVectors(spark, p, dels))
    val waves0 = rest.grouped(rest.length / 2 + 1).toSeq.map(_.toSeq)
    val reinsert = seed.find(_._1 == delBack).get
    val waves = Seq(waves0.head, waves0.last :+ reinsert)
    val in = MemoryStream[(Long, Array[Float])]
    val ckpt = Files.createTempDirectory("vec_sting").toFile.getAbsolutePath
    val q = IndexCatalog.stream(in.toDF().toDF("vec_id", "embedding"), ckpt)(
      VectorIndexOps.ingestBatch(spark, streamPre, _, _))
    try waves.foreach { w => in.addData(w); q.processAllAvailable() }
    finally q.stop()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    // The batch face: identical seed + deletes, the same rows appended
    // as plain batch calls.
    waves.foreach(w => VectorIndexOps.appendVectors(spark, batchPre, w.toDF("vec_id", "embedding")))
    // Union over waves ≡ batch face, across both index read faces.
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(
      same(
        VectorIndexOps.ivfTopK(spark, streamPre, col("vec_id") < 10, k = 5),
        VectorIndexOps.ivfTopK(spark, batchPre, col("vec_id") < 10, k = 5)),
      "stream-grown top-k must equal the batch-grown face")
    assert(
      same(
        VectorIndexOps.ivfRangeSearch(spark, streamPre, col("vec_id") < 10, minCosine = 0.4),
        VectorIndexOps.ivfRangeSearch(spark, batchPre, col("vec_id") < 10, minCosine = 0.4)),
      "stream-grown range search must equal the batch-grown face")
    // Tombstones honored end-to-end: the never-reinserted id is gone
    // from every read face; the re-inserted id is back exactly once.
    val ids = VectorIndexOps.ivfRangeSearch(
      spark, streamPre, col("vec_id") === rows.last._1, minCosine = -1.0)
      .select("neighbor_id").as[Long].collect()
    assert(!ids.contains(delGone), "deleted vector must stay invisible to reads")
    val stored = spark.table(s"${streamPre}_vectors")
      .groupBy(col("vec_id")).count().filter(col("count") > 1)
    assert(stored.isEmpty, "no vec_id may appear twice after the purge-then-reinsert")
    assert(
      spark.table(s"${streamPre}_vectors").filter(col("vec_id") === delBack).count() == 1L,
      "the re-inserted vector must be live again")
    assert(
      spark.table(s"${streamPre}_vectors").filter(col("vec_id") === delGone).count() == 0L,
      "the purge must have physically dropped the deleted vector")
  }

  test("streaming edge grow: union over waves equals the batch-derived graph; compaction preserves it") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{GraphOps, IndexCatalog}
    val t = "streamgrow_edges"
    Seq(t, s"${t}_members", s"${t}_deg", s"${t}_batches")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val li = Tables.lineitem(spark, Sf)
      .filter(col("l_quantity") <= 10)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    GraphOps.buildGrowableEdgeTable(
      spark, li.filter(col("l_suppkey") % 5 < 3), "l_orderkey", "l_partkey", t, buckets = 4)
    val rest = li.filter(col("l_suppkey") % 5 >= 3)
      .select(col("l_orderkey"), col("l_partkey"))
      .as[(Long, Long)].collect().sortBy(identity).toSeq
    val in = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("edge_grow").toFile.getAbsolutePath
    val q = IndexCatalog.stream(in.toDF().toDF("l_orderkey", "l_partkey"), ckpt)((batch, _) =>
      GraphOps.growEdgeTable(spark, t, batch, "l_orderkey", "l_partkey"))
    try rest.grouped(rest.length / 3 + 1).foreach { w =>
      in.addData(w); q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val grown = spark.table(t)
    val rebuilt = GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    assert(rebuilt.count() > 0)
    assert(grown.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(grown).isEmpty,
      "stream-grown edge set must equal the from-scratch derivation")
    // Each micro-batch appended a file per touched bucket to BOTH
    // append-mode tables (edges and the `_members` ground truth);
    // compaction restores one file per bucket in each without changing
    // a row.
    val before = grown.collect().toSeq.sortBy(_.toString)
    val membersBefore = spark.table(s"${t}_members").collect().toSeq.sortBy(_.toString)
    assert(IndexCatalog.maxFilesPerBucket(spark, s"${t}_members") > 1,
      "the grow waves must have fragmented the members table for the check to bite")
    val rewritten = IndexCatalog.EdgeTable.compact(spark, t, maxFilesPerBucket = 1)
    assert(rewritten.toSet == Set(t, s"${t}_members"),
      s"both fragmented tables must compact: $rewritten")
    assert(IndexCatalog.maxFilesPerBucket(spark, t) == 1,
      "compaction must restore one file per bucket in the edge table")
    assert(IndexCatalog.maxFilesPerBucket(spark, s"${t}_members") == 1,
      "compaction must restore one file per bucket in the members table")
    assert(spark.table(t).collect().toSeq.sortBy(_.toString) == before,
      "compaction must preserve the edge set bit-for-bit")
    assert(spark.table(s"${t}_members").collect().toSeq.sortBy(_.toString) == membersBefore,
      "compaction must preserve the membership ground truth bit-for-bit")
  }

  test("stream-stream interval join pairs bidirectional flows with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    def rawP(src: String, dst: String, psrc: Int, pdst: Int, bytes: Long, ts: String): String =
      s"""{"event_type":"purge","ip_src":"$src","ip_dst":"$dst","port_src":$psrc,"port_dst":$pdst,
         |"ip_proto":"tcp","timestamp_start":"$ts","timestamp_arrival":"$ts","packets":1,"bytes":$bytes}"""
        .stripMargin.replace("\n", "")
    val in = MemoryStream[String]
    in.addData(
      rawP("10.0.0.1", "10.0.0.2", 1000, 2000, 100, "2019-11-11 06:18:01.000000"), // fwd
      rawP("10.0.0.2", "10.0.0.1", 2000, 1000, 52, "2019-11-11 06:18:05.000000"), // matching rev (+4 s)
      rawP("10.0.0.2", "10.0.0.1", 2000, 1000, 9, "2019-11-11 06:18:30.000000"), // rev too late (> 10 s)
      rawP("10.0.0.9", "10.0.0.8", 1000, 2000, 7, "2019-11-11 06:18:02.000000"), // unmatched
      // simultaneous exchange: must emit exactly ONE orientation
      rawP("10.0.1.1", "10.0.1.2", 5, 6, 11, "2019-11-11 07:00:00.000000"),
      rawP("10.0.1.2", "10.0.1.1", 6, 5, 13, "2019-11-11 07:00:00.000000"),
    )
    val parsed = NetflowStreams.parseKafkaNetflow(
      in.toDF().select(col("value").cast("binary").as("value")),
    )
    val pairs = NetflowStreams.pairBidirectionalFlows(parsed, "10 seconds")
    NetflowStreams.runToMemory(pairs, "pairs_test")
    val got = spark.table("pairs_test")
      .select("f_bytes", "r_bytes").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 52L), (11L, 13L))) // one row per exchange, even at equal timestamps
  }

  test("stream-stream LEFT OUTER interval join emits unanswered flows after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def rawP(src: String, dst: String, psrc: Int, pdst: Int, bytes: Long, ts: String): String =
      s"""{"event_type":"purge","ip_src":"$src","ip_dst":"$dst","port_src":$psrc,"port_dst":$pdst,
         |"ip_proto":"tcp","timestamp_start":"$ts","timestamp_arrival":"$ts","packets":1,"bytes":$bytes}"""
        .stripMargin.replace("\n", "")
    val in = MemoryStream[String]
    val parsed = NetflowStreams.parseKafkaNetflow(
      in.toDF().select(col("value").cast("binary").as("value")),
    )
    val pairs = NetflowStreams
      .pairBidirectionalFlows(parsed, "10 seconds", joinType = "left_outer")
      .select("f_src", "f_bytes", "r_bytes")
    val q = pairs.writeStream
      .format("memory").queryName("outer_pairs").outputMode("append")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("outer_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(
        rawP("10.0.0.1", "10.0.0.2", 1000, 2000, 100, "2019-11-11 06:18:01.000000"), // answered
        rawP("10.0.0.2", "10.0.0.1", 2000, 1000, 52, "2019-11-11 06:18:05.000000"),
        rawP("10.0.0.9", "10.0.0.8", 1000, 2000, 7, "2019-11-11 06:18:02.000000"), // never answered
      )
      q.processAllAvailable()
      // The unanswered flow's NULL row may only emit once the watermark
      // passes its whole match window — advance it far past.
      in.addData(rawP("10.9.9.9", "10.9.9.8", 1, 2, 1, "2019-11-11 08:00:00.000000"))
      q.processAllAvailable()
      in.addData(rawP("10.9.9.7", "10.9.9.6", 3, 4, 1, "2019-11-11 08:30:00.000000"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val got = spark.table("outer_pairs")
        .select("f_src", "f_bytes", "r_bytes")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toSet
      assert(got.contains(("10.0.0.1", 100L, 52L)), s"matched pair missing: $got")
      assert(got.contains(("10.0.0.9", 7L, -1L)), s"unanswered flow's NULL row missing: $got")
    } finally q.stop()
  }

  test("Kafka re-publish serialization round-trips the curated record (K2 fix shape)") {
    import spark.implicits._
    val curated = Seq(
      ("1.2.3.4", "5.6.7.8", "purge", 3L, 168L, "tcp", "2019-11-11 06:18:00.043547", 22, 58608),
    ).toDF("ip_src", "ip_dst", "event_type", "packets", "bytes", "protocol", "timestamp", "port_src", "port_dst")
    // The sink's executor-side serialization: to_json(struct(*)) AS value.
    val wire = curated.selectExpr("to_json(struct(*)) AS value")
    // A downstream consumer re-parses with the curated schema:
    val back = wire.select(
      from_json(col("value"), graft.schemas.Schemas.curatedNetflow).as("r"),
    ).select("r.*")
    assert(back.collect().toSeq == curated.collect().toSeq)
  }

  test("stateful sessionization agrees with the batch gaps-and-islands operator") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      // user 1: two sessions separated by > 30 min
      SessionizeStream.Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      SessionizeStream.Event(1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
      SessionizeStream.Event(1L, Timestamp.valueOf("2024-01-01 11:00:00"), 3.0),
      // user 2: one session
      SessionizeStream.Event(2L, Timestamp.valueOf("2024-01-01 09:00:00"), 5.0),
      // watermark pusher so earlier sessions time out and emit
      SessionizeStream.Event(99L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0),
    )
    val in = MemoryStream[SessionizeStream.Event]
    in.addData(events)
    val sessions = SessionizeStream.sessionize(spark, in.toDS(), gapMinutes = 30)
    NetflowStreams.runToMemory(sessions.toDF(), "sessions_test")
    val got = spark.table("sessions_test")
      .select("user_id", "n_events", "session_value").as[(Long, Long, Double)].collect().toSet
    // user 1 closes (2 events, 3.0) then (1 event, 3.0); user 2 closes (1, 5.0).
    assert(got.contains((1L, 2L, 3.0)))
    assert(got.contains((1L, 1L, 3.0)))
    assert(got.contains((2L, 1L, 5.0)))
  }

  test("stream-static broadcast enrichment joins each micro-batch against the dim") {
    // The standard enrichment shape: an unbounded fact stream hash-joins
    // a small static dimension, broadcast per batch — no stream state,
    // no watermark needed for an inner equi-join against a static side.
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Double)]
    val enriched = in.toDF()
      .toDF("user_id", "value")
      .join(broadcast(dim), Seq("user_id"))
    val q = enriched.writeStream
      .format("memory").queryName("enriched").outputMode("append")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("enrich_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData((1L, 10.0), (2L, 5.0), (99L, 1.0)) // 99 has no dim row
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val got = spark.table("enriched")
        .select("user_id", "tier", "value").as[(Long, String, Double)].collect().toSet
      assert(got == Set((1L, "gold", 10.0), (2L, "basic", 5.0)))
    } finally q.stop()
  }

  test("windowed count-min sketch streams: mergeable heavy-hitters per window") {
    // The CMS aggregate is mergeable state, so it composes with
    // watermarked windowed aggregation unchanged — the streaming
    // heavy-hitter shape for 100 TB/day firehoses (per-window sketch is
    // O(depth×width) state regardless of key cardinality). The custom
    // CmsEstimate probe then reads the emitted sketch without any
    // driver-side deserialization.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val sketches = in.toDF()
      .toDF("ts", "k")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(
        count_min_sketch(col("k"), lit(0.001d), lit(0.999d), lit(42)).as("cms"),
        count(lit(1)).as("n"),
      )
    val q = sketches.writeStream
      .format("memory").queryName("cms_windows").outputMode("append")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("cms_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:01"), "a"),
        (Timestamp.valueOf("2024-01-01 10:00:02"), "a"),
        (Timestamp.valueOf("2024-01-01 10:00:03"), "b"),
      )
      q.processAllAvailable()
      // Advance the watermark past the first window so it emits.
      in.addData((Timestamp.valueOf("2024-01-01 10:05:00"), "z"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val got = spark.table("cms_windows")
        .select(
          graft.expressions.CmsColumns.estimate(col("cms"), lit("a")).as("est_a"),
          graft.expressions.CmsColumns.estimate(col("cms"), lit("b")).as("est_b"),
          col("n"),
        )
        .as[(Long, Long, Long)].collect()
      assert(got.length == 1, s"exactly the closed window should emit; got ${got.toSeq}")
      assert(got.head == ((2L, 1L, 3L)), s"sketch estimates off: ${got.head}")
    } finally q.stop()
  }

  test("streaming beacon profile converges to the batch operator field-for-field") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{BeaconEvent, BeaconStream}
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    def us(s: Long) = s * 1000000L
    // beacon pair: 10 s cadence split ACROSS the two batches (state must
    // carry the prev timestamp over); noisy pair: irregular; single: one
    // flow, NULL moments.
    val batch1 = Seq(
      BeaconEvent("b", "c2", 1L, us(0)), BeaconEvent("b", "c2", 2L, us(10)),
      BeaconEvent("b", "c2", 3L, us(20)),
      BeaconEvent("n", "c2", 10L, us(0)), BeaconEvent("n", "c2", 11L, us(5)),
      BeaconEvent("s", "c2", 20L, us(7)),
    )
    val batch2 = Seq(
      BeaconEvent("b", "c2", 4L, us(30)), BeaconEvent("b", "c2", 5L, us(40)),
      BeaconEvent("b", "c2", 6L, us(50)),
      BeaconEvent("n", "c2", 12L, us(300)), BeaconEvent("n", "c2", 13L, us(330)),
      BeaconEvent("n", "c2", 14L, us(2000)), BeaconEvent("n", "c2", 15L, us(2004)),
    )
    val in = MemoryStream[BeaconEvent]
    val q = BeaconStream.profile(in.toDS(), minGaps = 5, cvInv = 5).toDF()
      .writeStream
      .format("memory").queryName("beacon_stream").outputMode("update")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("beacon_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      // Last emitted row per pair (update mode re-emits as state grows).
      val rows = spark.table("beacon_stream").collect()
      val last = rows.zipWithIndex
        .groupBy(r => (r._1.getString(0), r._1.getString(1)))
        .map { case (_, rs) => rs.maxBy(_._2)._1 }
        .map(r => Seq.tabulate(r.length)(i => if (r.isNullAt(i)) null else r.get(i)))
        .toSet
      val batch = graft.operators.NetflowOps
        .beaconProfile(
          (batch1 ++ batch2)
            .map(e => (e.id, e.ipSrc, e.ipDst, new java.sql.Timestamp(e.tsMicros / 1000)))
            .toDF("id", "ip_src", "ip_dst", "ts"),
          minGaps = 5, cvInv = 5)
        .collect()
        .map(r => Seq.tabulate(r.length)(i => if (r.isNullAt(i)) null else r.get(i)))
        .toSet
      assert(last == batch, s"stream $last\nvs batch $batch")
      // And the beacon actually flags: the regular pair is the only one.
      assert(rows.exists(r => r.getString(0) == "b" && r.getBoolean(8)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming burst peak converges to the batch nf_burst core over a two-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{BurstEvent, BurstStream}
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    def us(s: Long) = s * 1000000L
    // user 1: early burst, then a straggler far later (the late event
    // must NOT reopen finalized windows); user 2: one 60-s window's
    // events split ACROSS the batch boundary (open-window counts must
    // carry over); user 3: single event, peak 1.
    val batch1 = Seq(
      BurstEvent(1L, 1L, us(0)), BurstEvent(1L, 2L, us(2)), BurstEvent(1L, 3L, us(4)),
      BurstEvent(1L, 4L, us(6)), BurstEvent(1L, 5L, us(8)),
      BurstEvent(2L, 10L, us(55)), BurstEvent(2L, 11L, us(58)),
      BurstEvent(3L, 20L, us(33)),
    )
    val batch2 = Seq(
      BurstEvent(1L, 6L, us(11)), BurstEvent(1L, 7L, us(13)), BurstEvent(1L, 8L, us(262)),
      BurstEvent(2L, 12L, us(61)), BurstEvent(2L, 13L, us(64)),
    )
    val in = MemoryStream[BurstEvent]
    val q = BurstStream.peaks(in.toDS()).toDF()
      .writeStream
      .format("memory").queryName("burst_stream").outputMode("update")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("burst_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val rows = spark.table("burst_stream").collect()
      val last = rows.zipWithIndex
        .groupBy(_._1.getLong(0))
        .map { case (_, rs) => rs.maxBy(_._2)._1 }
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val batch = graft.operators.NetflowOps
        .burstPeak(
          (batch1 ++ batch2)
            .map(e => (e.userId, java.time.LocalDateTime.ofEpochSecond(
              e.tsMicros / 1000000L, ((e.tsMicros % 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)))
            .toDF("user_id", "ts"))
        .as[(Long, Long, Long)].collect().toSet
      assert(last == batch, s"stream $last\nvs batch $batch")
      // And the split window actually counted across the boundary:
      // user 2's four events share the aligned window starting at 10 s.
      assert(batch.contains((2L, 4L, 10L)), batch.toString)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming idle gap converges to the batch nf_idle_gap core over a two-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{BurstEvent, BurstStream}
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    def us(s: Long) = s * 1000000L
    // user 1's LONGEST silence spans the batch boundary (8 s → 300 s);
    // user 2 has sub-second gaps (exact micros matter); user 3 is a
    // single event — NULL gap, the case the stream must emit as None.
    val batch1 = Seq(
      BurstEvent(1L, 1L, us(0)), BurstEvent(1L, 2L, us(8)),
      BurstEvent(2L, 10L, us(1) + 250000L), BurstEvent(2L, 11L, us(1) + 900001L),
      BurstEvent(3L, 20L, us(42)),
    )
    val batch2 = Seq(
      BurstEvent(1L, 3L, us(300)), BurstEvent(1L, 4L, us(301)),
      BurstEvent(2L, 12L, us(2) + 100000L),
    )
    val in = MemoryStream[BurstEvent]
    val q = BurstStream.idleGaps(in.toDS()).toDF()
      .writeStream
      .format("memory").queryName("idle_stream").outputMode("update")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("idle_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val rows = spark.table("idle_stream").collect()
      val last = rows.zipWithIndex
        .groupBy(_._1.getLong(0))
        .map { case (_, rs) => rs.maxBy(_._2)._1 }
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2)))
        .toSet
      val batch = graft.operators.NetflowOps
        .idleGap(
          (batch1 ++ batch2)
            .map(e => (e.userId, java.time.LocalDateTime.ofEpochSecond(
              e.tsMicros / 1000000L, ((e.tsMicros % 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC), e.id))
            .toDF("user_id", "ts", "event_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2)))
        .toSet
      assert(last == batch, s"stream $last\nvs batch $batch")
      // The boundary-spanning silence is the max, in exact micros.
      assert(batch.contains((1L, 4L, us(292))), batch.toString)
      assert(batch.contains((3L, 1L, null)), batch.toString)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState keeps running per-host totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    val in = MemoryStream[(String, Long)]
    // Not runToMemory: its AvailableNow trigger drains once at start —
    // this test feeds TWO batches to prove state carries across them.
    val q = RunningTotals.runningBytes(in.toDS()).toDF("host", "total_bytes")
      .writeStream
      .format("memory").queryName("running_totals").outputMode("update")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("tws_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(("a", 100L), ("a", 50L), ("b", 7L))
      q.processAllAvailable()
      in.addData(("a", 1L), ("c", 9L))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val got = spark.table("running_totals")
        .as[(String, Long)].collect().toSeq
      // Batch 1 emits a→150, b→7; batch 2 emits a→151 (state carried), c→9.
      assert(got.toSet == Set(("a", 150L), ("b", 7L), ("a", 151L), ("c", 9L)), got.toString)
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ListState top-N leaderboard equals the batch window rank regardless of batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    // Events over two keys, split across three batches so the merge
    // crosses state; value ties (2.0) force the event_id tiebreak.
    val rows = Seq(
      (1L, 10L, 2.0), (1L, 11L, 5.0), (2L, 12L, 1.0),
      (1L, 13L, 3.0), (2L, 14L, 2.0), (1L, 15L, 2.0),
      (2L, 16L, 9.0), (1L, 17L, 7.0), (2L, 18L, 2.0),
    )
    val in = MemoryStream[(Long, Long, Double)]
    val lastEmit = scala.collection.mutable.Map[Long, Seq[(Long, Double, Int)]]()
    val q = graft.streaming.TopNPerKey.topN(in.toDS(), n = 3)
      .toDF("user_id", "event_id", "value", "rank")
      .writeStream.outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("topn").toFile.getAbsolutePath)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, Long, Double, Int)].collect()
          .groupBy(_._1).foreach { case (k, rs) =>
            lastEmit(k) = rs.sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq
          }
      }
      .start()
    try {
      rows.grouped(3).foreach { g => in.addData(g); q.processAllAvailable() }
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    // Batch reference: window rank ≤ 3 by (value desc, event_id) per key.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    val expected = rows.toDF("user_id", "event_id", "value")
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq }
    assert(lastEmit.toMap == expected.toMap, s"got $lastEmit, expected $expected")
  }

  test("MapState categorical counters equal the batch crosstab regardless of batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    val rows = Seq(
      (1L, "view"), (1L, "click"), (2L, "view"),
      (1L, "view"), (2L, "purchase"), (1L, "click"),
      (2L, "view"), (1L, "view"), (2L, "view"),
    )
    val in = MemoryStream[(Long, String)]
    // Last-write-wins per (key, category): the final update carries the
    // final running count.
    val latest = scala.collection.mutable.Map[(Long, String), Long]()
    val q = graft.streaming.TypeCounts.typeCounts(in.toDS())
      .toDF("user_id", "event_type", "n")
      .writeStream.outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("typec").toFile.getAbsolutePath)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, String, Long)].collect().foreach { case (u, t, n) => latest((u, t)) = n }
      }
      .start()
    try {
      rows.grouped(4).foreach { g => in.addData(g); q.processAllAvailable() }
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val expected = rows.groupBy(identity).map { case ((u, t), rs) => (u, t) -> rs.size.toLong }
    assert(latest.toMap == expected, s"got $latest, expected $expected")
  }

  test("streaming running z-score is bit-identical to the batch window query") {
    // The exact-integer-state contract: RunningZScoreProcessor carries
    // (n, Σcents, Σcents²) as longs, so feeding the events table through
    // a two-batch stream must reproduce q_running_zscore's doubles
    // EXACTLY — not approximately — for every (user, event).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    // Cents conversion in Spark SQL so rounding matches the batch
    // decimal(18,2) cast exactly; global (ts, event_id) order, split
    // into two sequential batches (within-batch per-key sort in the
    // processor + cross-batch order = the batch query's frame order).
    val rows = Tables.events(spark, Sf)
      .select(
        col("user_id"),
        col("event_id"),
        // NTZ-literal epoch-diff idiom (EventOps.maxConcurrent): casting
        // ts to TIMESTAMP would coerce through the session timezone.
        timestamp_diff(
          "MICROSECOND",
          lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)),
          col("ts"),
        ).as("ts_us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
      )
      .orderBy("ts_us", "event_id")
      .as[(Long, Long, Long, Long)]
      .collect()
    val (batch1, batch2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = RunningZScore.score(in.toDS()).toDF("user_id", "event_id", "value", "z")
      .writeStream
      .format("memory").queryName("running_z").outputMode("update")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("zs_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(batch1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(batch2.toIndexedSeq)
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val streamed = spark.table("running_z")
        .as[(Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val batch = Registry.queries("q_running_zscore")(spark, Sf)
        .as[(Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      assert(streamed.size == batch.size, s"${streamed.size} streamed vs ${batch.size} batch")
      batch.foreach { case (k, (v, z)) =>
        assert(streamed(k) == ((v, z)), s"key $k: stream=${streamed(k)} batch=${(v, z)}")
      }
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("EWMA stream over two batches is bit-identical to the nf_ewma batch query") {
    // Same exact-integer-state contract as the z-score twin: the
    // processor's (n, ewma, spikes) longs replay EventOps.ewmaSpikes'
    // ordered fold, so the final per-key rows must match EXACTLY.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    // Cents via the SAME Spark expression as the batch operator
    // (floor(value*100 + 0.5)); global (ts, event_id) order split into
    // two sequential batches.
    val rows = Tables.events(spark, Sf)
      .select(
        col("user_id"),
        col("event_id"),
        // Same NTZ-literal epoch-diff idiom as the z-score twin above.
        timestamp_diff(
          "MICROSECOND",
          lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)),
          col("ts"),
        ).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      )
      .orderBy("ts_us", "event_id")
      .as[(Long, Long, Long, Long)]
      .collect()
    val (batch1, batch2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = graft.streaming.EwmaStream
      .baseline(in.toDS())
      .toDF("user_id", "n_events", "ewma_cents", "n_spikes")
      .writeStream
      .format("memory").queryName("ewma_stream").outputMode("update")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("ewma_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      in.addData(batch1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(batch2.toIndexedSeq)
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      // Update mode appends one row per key per touched batch; the
      // current baseline is the row with the largest n_events (n is
      // strictly increasing per key).
      val streamed = spark.table("ewma_stream")
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      val batch = Registry.queries("nf_ewma")(spark, Sf)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(streamed.size == batch.size, s"${streamed.size} streamed vs ${batch.size} batch")
      batch.foreach { case (k, b) =>
        assert(streamed(k) == b, s"user $k: stream=${streamed(k)} batch=$b")
      }
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("an event far behind the watermark is dropped without killing the query") {
    // Spark 4's flatMapGroupsWithState drops input rows older than the
    // watermark before they reach the state function (verified against
    // FlatMapGroupsWithStateExecBase.eventTimeWatermarkForLateEvents in
    // the spark-sql 4.1.2 jar) — so a very late event must neither
    // throw (the setTimeoutTimestamp clamp guards the boundary cases
    // that do reach the function) nor resurrect a session. This pins
    // the drop semantics; on-time sessions still flush via timeout.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionizeStream.Event]
    val sessions = SessionizeStream.sessionize(spark, in.toDS(), gapMinutes = 30)
    val q = sessions.toDF().writeStream
      .format("memory").queryName("late_sessions").outputMode("append")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("late_sessions_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      // Batch 1: push the watermark a day ahead.
      in.addData(
        SessionizeStream.Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        SessionizeStream.Event(99L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0),
      )
      q.processAllAvailable()
      // Batch 2: a LATE event — its session horizon (05:00 + 30 min) is
      // far behind the watermark (2024-01-01 23:30). Spark must drop it
      // pre-function; the query must stay alive either way.
      in.addData(SessionizeStream.Event(3L, Timestamp.valueOf("2024-01-01 05:00:00"), 7.0))
      q.processAllAvailable()
      // Batches 3-4: advance the watermark so on-time open sessions
      // (user 1) time out and flush — timeouts fire in the first data
      // batch that runs AFTER the watermark advance commits, and the
      // no-data flush batch isn't awaited by processAllAvailable.
      in.addData(SessionizeStream.Event(99L, Timestamp.valueOf("2024-01-03 00:00:00"), 0.0))
      q.processAllAvailable()
      in.addData(SessionizeStream.Event(99L, Timestamp.valueOf("2024-01-04 00:00:00"), 0.0))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val got = spark.table("late_sessions")
        .select("user_id", "n_events", "session_value").as[(Long, Long, Double)].collect().toSet
      assert(got.contains((1L, 1L, 1.0)), s"on-time session not flushed by timeout; got $got")
      assert(!got.exists(_._1 == 3L), s"late event should have been dropped; got $got")
    } finally q.stop()
  }
}
