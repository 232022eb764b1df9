package graft

import org.apache.spark.sql.functions._
import graft.operators.{IndexCatalog, MediaIndexOps, MultimodalOps}

/** The persisted perceptual-fingerprint index (MediaIndexOps): pairs
  * served from the stored artifact must equal the single-pass operator
  * bit-for-bit, the chunk self-join must read the bucketed tables
  * without any exchange, and the streaming ingest must implement the
  * greedy-keeper match rule replay-safely.
  */
class MediaIndexSpec extends SparkSpec {

  private val Regions = 49
  private val Bands = 6
  private val MaxHamming = 5
  private val Prefix = "mediaix"

  private def media() = MultimodalOps.encodeMedia(Tables.documents(spark, Sf))

  private def buildOnce(): Unit =
    if (!spark.catalog.tableExists(s"${Prefix}_chunks")) {
      MediaIndexOps.writeIndex(media(), Regions, Bands, buckets = 4, prefix = Prefix)
    }

  test("near-dup pairs from the stored index equal the single-pass operator's") {
    buildOnce()
    val fromIndex = MediaIndexOps.nearDupPairs(spark, Prefix, MaxHamming)
    val direct = MultimodalOps.nearDupPairs(media(), Regions, Bands, MaxHamming)
    assert(fromIndex.count() > 0)
    assert(fromIndex.exceptAll(direct).isEmpty && direct.exceptAll(fromIndex).isEmpty)
  }

  test("audio and video index faces equal their corpus-scan operators") {
    val audioPre = "mediaixaud"
    val videoPre = "mediaixvid"
    Seq(audioPre, videoPre).foreach(p =>
      Seq(s"${p}_fps", s"${p}_chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
    MediaIndexOps.writeIndex(
      media(), Regions, Bands, buckets = 4, prefix = audioPre, mediaType = "audio")
    MediaIndexOps.writeIndex(
      media(), Regions, Bands, buckets = 4, prefix = videoPre, mediaType = "video")
    val audioIdx = MediaIndexOps.nearDupPairs(spark, audioPre, MaxHamming)
    val audioDirect = MultimodalOps.nearDupPairs(media(), Regions, Bands, MaxHamming, "audio")
    assert(audioIdx.count() > 0)
    assert(audioIdx.exceptAll(audioDirect).isEmpty && audioDirect.exceptAll(audioIdx).isEmpty)
    // Video: one fingerprint row per frame in the store; the same pair
    // read face must reproduce the corpus-scan min pairwise-frame
    // hamming exactly.
    val videoIdx = MediaIndexOps.nearDupPairs(spark, videoPre, MaxHamming)
    val videoDirect = MultimodalOps.nearDupPairsVideo(media(), Regions, Bands, MaxHamming)
    assert(videoIdx.count() > 0)
    assert(videoIdx.exceptAll(videoDirect).isEmpty && videoDirect.exceptAll(videoIdx).isEmpty)
    // Frame rows really are per-frame: strictly more fingerprint rows
    // than distinct videos.
    val fps = spark.table(s"${videoPre}_fps")
    assert(fps.count() > fps.select("doc_id").distinct().count())
  }

  test("two-family consensus from the stored index equals the corpus-scan operator") {
    buildOnce()
    val fromIndex = MediaIndexOps.consensusFromIndex(spark, Prefix, MaxHamming, whashBudget = 5)
    val direct = MultimodalOps.nearDupConsensus(media(), Regions, Bands, MaxHamming, whashBudget = 5)
    assert(fromIndex.count() > 0)
    assert(fromIndex.exceptAll(direct).isEmpty && direct.exceptAll(fromIndex).isEmpty)
  }

  test("audio and video consensus from the stored index equal their corpus-scan operators") {
    val audioPre = "mediaixconsaud"
    val videoPre = "mediaixconsvid"
    Seq(audioPre, videoPre).foreach(p =>
      Seq(s"${p}_fps", s"${p}_chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
    MediaIndexOps.writeIndex(
      media(), Regions, Bands, buckets = 4, prefix = audioPre, mediaType = "audio")
    MediaIndexOps.writeIndex(
      media(), Regions, Bands, buckets = 4, prefix = videoPre, mediaType = "video")
    val audioIdx = MediaIndexOps.consensusFromIndex(spark, audioPre, MaxHamming, whashBudget = 5)
    val audioDirect = MultimodalOps.nearDupConsensus(
      media(), Regions, Bands, MaxHamming, whashBudget = 5, mediaType = "audio")
    assert(audioIdx.count() > 0)
    assert(audioIdx.exceptAll(audioDirect).isEmpty && audioDirect.exceptAll(audioIdx).isEmpty)
    // Video: per-frame _fps rows repeat the whole-item whash; the read
    // face's min-aggregations must collapse them to exactly one verdict
    // per pair — bit-equal to the corpus-scan operator.
    val videoIdx = MediaIndexOps.consensusFromIndex(spark, videoPre, MaxHamming, whashBudget = 5)
    val videoDirect = MultimodalOps.nearDupConsensusVideo(
      media(), Regions, Bands, MaxHamming, whashBudget = 5)
    assert(videoIdx.count() > 0)
    assert(videoIdx.exceptAll(videoDirect).isEmpty && videoDirect.exceptAll(videoIdx).isEmpty)
    // One verdict row per pair despite the per-frame fps duplication.
    val pairCols = videoIdx.select("doc_a", "doc_b")
    assert(pairCols.count() == pairCols.distinct().count())
  }

  test("curation verdicts from the persisted artifacts equal the corpus-scan pipelines") {
    val pres = Seq("image" -> "mediaixcuri", "audio" -> "mediaixcura", "video" -> "mediaixcurv")
    pres.foreach { case (mt, pre) =>
      Seq("_fps", "_chunks", "_meta", "_clusters")
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $pre$sfx"))
      MediaIndexOps.writeIndex(media(), Regions, Bands, buckets = 4, prefix = pre, mediaType = mt)
      MediaIndexOps.writeCurationArtifacts(
        spark, media(), MaxHamming, buckets = 4, prefix = pre, mediaType = mt)
    }
    val cases = Seq(
      ("image", "mediaixcuri", MultimodalOps.imageFloor(16384L),
        MultimodalOps.curationPipeline(media(), Regions, Bands, MaxHamming, 16384L)),
      ("audio", "mediaixcura", MultimodalOps.audioFloor(Regions),
        MultimodalOps.curationPipelineAudio(media(), Regions, Bands, MaxHamming)),
      ("video", "mediaixcurv", MultimodalOps.videoFloor,
        MultimodalOps.curationPipelineVideo(media(), Regions, Bands, MaxHamming)),
    )
    cases.foreach { case (mt, pre, (floor, label), direct) =>
      val fromIndex = MediaIndexOps.curationFromIndex(spark, pre, floor, label)
      assert(fromIndex.count() > 0, s"$mt verdict is empty")
      assert(
        fromIndex.exceptAll(direct).isEmpty && direct.exceptAll(fromIndex).isEmpty,
        s"$mt index-served verdict differs from the corpus-scan pipeline")
      // The dup and floor stages must actually fire somewhere across
      // the modalities, or the staging is untested — checked on the
      // union below. (No exact byte-dups exist at this SF — that arm is
      // exercised by the verdict equality itself plus the registry
      // oracles at the larger SFs.)
    }
    val statuses = cases
      .map { case (_, pre, (floor, label), _) =>
        MediaIndexOps.curationFromIndex(spark, pre, floor, label).select("status")
      }
      .reduce(_ unionAll _)
      .distinct().collect().map(_.getString(0)).toSet
    assert(Set("near_dup", "keep").subsetOf(statuses) && statuses.size >= 3,
      s"got statuses: $statuses")
  }

  test("the curation read face joins the bucketed artifacts with no exchange below the sort") {
    val pre = "mediaixcuri" // built by the equality test above
    if (!spark.catalog.tableExists(s"${pre}_meta")) {
      MediaIndexOps.writeIndex(media(), Regions, Bands, buckets = 4, prefix = pre)
      MediaIndexOps.writeCurationArtifacts(spark, media(), MaxHamming, buckets = 4, prefix = pre)
    }
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (floor, label) = MultimodalOps.imageFloor(16384L)
      val verdict = MediaIndexOps.curationFromIndex(spark, pre, floor, label)
      assert(verdict.count() > 0)
      val plan = verdict.queryExecution.executedPlan.toString
      // The verdict is two bucketed doc_id tables joined + one final
      // orderBy: the ONLY exchange allowed is the range partitioning
      // for the sort — the join itself must read the buckets in place.
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toSeq
      assert(
        exchanges.forall(_.contains("rangepartitioning")) && exchanges.size <= 1,
        s"curation read face must not shuffle below the sort:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("upload verdict from the pre-built split artifacts equals an in-query-build twin") {
    // The registry faces (mm_index_upload_verdict*) probe the SHARED
    // pre-built stored-split index + meta (MultimodalQueries
    // .splitMediaIndex) so the timed query is the per-arrival probe
    // alone; this pins that serving from the pre-built artifact is
    // bit-equal to building the identical split index inside the query.
    val cases = Seq(
      ("image", MultimodalOps.imageFloor(16384L)),
      ("audio", MultimodalOps.audioFloor(Regions)),
      ("video", MultimodalOps.videoFloor),
    )
    cases.foreach { case (mt, (floor, label)) =>
      val twinPre = s"mediaixupl$mt"
      Seq("_fps", "_chunks", "_meta")
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $twinPre$sfx"))
      val stored = media().filter(col("doc_id") % 5 =!= 0)
      val batch = media().filter(col("doc_id") % 5 === 0)
      MediaIndexOps.writeIndex(
        stored, Regions, Bands, buckets = 4, prefix = twinPre, mediaType = mt)
      MediaIndexOps.writeMetaTable(stored, buckets = 4, prefix = twinPre, mediaType = mt)
      val twin = MediaIndexOps.uploadVerdict(
        spark, twinPre, batch, Regions, Bands, MaxHamming, floor, label, mt)
      val prebuilt = MediaIndexOps.uploadVerdict(
        spark, MultimodalQueries.splitMediaIndex(spark, Sf, mt), batch,
        Regions, Bands, MaxHamming, floor, label, mt)
      assert(prebuilt.count() > 0, s"$mt upload verdict is empty")
      assert(
        prebuilt.exceptAll(twin).isEmpty && twin.exceptAll(prebuilt).isEmpty,
        s"$mt pre-built-artifact verdict differs from the in-query-build twin")
    }
  }

  test("cross-modal frame match from the stored image index equals the corpus-scan operator") {
    buildOnce()
    val fromIndex = MediaIndexOps.frameMatchAgainstIndex(
      spark, Prefix, media(), Regions, Bands, MaxHamming)
    val direct = MultimodalOps.frameMatchPairs(media(), Regions, Bands, MaxHamming)
    assert(fromIndex.count() > 0)
    assert(fromIndex.exceptAll(direct).isEmpty && direct.exceptAll(fromIndex).isEmpty)
  }

  test("video incremental dedup equals brute-force frame-pair hammings across the split") {
    import spark.implicits._
    val pre = "mediaixvincr"
    Seq(s"${pre}_fps", s"${pre}_chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val stored = media().filter(col("doc_id") % 5 =!= 0)
    val batch = media().filter(col("doc_id") % 5 === 0)
    MediaIndexOps.writeIndex(stored, Regions, Bands, buckets = 4, prefix = pre, mediaType = "video")
    val rows = MediaIndexOps
      .dedupAgainstIndex(spark, pre, batch, Regions, Bands, MaxHamming, mediaType = "video")
      .as[(Long, Long, Int)].collect()
    val got = rows.toSet
    // Expectation from first principles: every (new, dup) pair whose
    // closest batch-frame × stored-frame hamming is ≤ MaxHamming MUST be
    // emitted (pigeonhole guarantees that frame pair collides on ≥1
    // chunk), once, at that min hamming.
    val fps = MultimodalOps.videoFrameFingerprints(media(), Regions)
      .as[(Long, Int, Long)].collect()
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val expected = (for {
      (na, _, fa) <- fps if batchIds.contains(na)
      (nb, _, fb) <- fps if !batchIds.contains(nb)
    } yield ((na, nb), java.lang.Long.bitCount(fa ^ fb)))
      .groupBy(_._1)
      .map { case ((na, nb), hs) => (na, nb, hs.map(_._2).min) }
      .filter(_._3 <= MaxHamming)
      .toSet
    assert(got.nonEmpty && got == expected)
    assert(rows.length == got.size, "one row per (new, dup) pair")
  }

  test("the candidate self-join over the bucketed chunk table is exchange-free") {
    buildOnce()
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // Exchange elision is a static EnsureRequirements property; AQE off
    // so executedPlan is the final physical tree, not an adaptive shell.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ch = spark.table(s"${Prefix}_chunks")
      val joined = ch.as("x").join(
        ch.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk_bits") === col("y.chunk_bits") &&
          col("x.doc_id") < col("y.doc_id"),
      )
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(
        plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled join over the chunk table:\n$plan",
      )
      assert(!plan.contains("Exchange"), s"bucketed chunk self-join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("rebucketIfNeeded rewrites an over-budget chunk layout and preserves pairs bit-for-bit") {
    val prefix = "mediarebucket"
    Seq(s"${prefix}_fps", s"${prefix}_chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    MediaIndexOps.writeIndex(media(), Regions, Bands, buckets = 2, prefix = prefix)
    val before = MediaIndexOps.nearDupPairs(spark, prefix, MaxHamming).collect().toSeq
    // A 1-candidate-per-bucket budget is always exceeded → must rewrite.
    val grown = IndexCatalog.MediaIndex.rebucketIfNeeded(spark, prefix, candidatesPerBucketBudget = 1L)
    assert(grown.exists(_ > 2), s"expected a bucket-count increase, got $grown")
    assert(MediaIndexOps.nearDupPairs(spark, prefix, MaxHamming).collect().toSeq == before,
      "rebucketing is physical only — pairs must be bit-identical")
    // Within budget afterwards at a generous budget: no further rewrite.
    assert(IndexCatalog.MediaIndex.rebucketIfNeeded(spark, prefix, candidatesPerBucketBudget = 1000000L).isEmpty)
  }

  test("appends follow the live bucket spec after a rebucket: grown candidate pairs equal an unbucketed read") {
    import spark.implicits._
    val prefix = "mediaappendbkt"
    Seq("_fps", "_chunks", "_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $prefix$t"))
    MediaIndexOps.writeIndex(
      media().filter(col("doc_id") % 5 =!= 0), Regions, Bands, buckets = 4, prefix = prefix)
    IndexCatalog.MediaIndex.rebucket(spark, prefix, 8)
    def ids() = spark.table(s"${prefix}_fps").select("doc_id").as[Long].collect().toSet
    val before = ids()
    // The append must take the table's live spec, not the build count.
    MediaIndexOps.dedupBatchAndGrow(
      spark, prefix, media().filter(col("doc_id") % 5 === 0),
      Regions, Bands, maxHamming = MaxHamming)
    val grown = ids() -- before
    assert(grown.nonEmpty, "the batch admitted no keepers")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def candidates() = {
        val ch = spark.table(s"${prefix}_chunks")
        ch.as("x").join(
          ch.as("y"),
          col("x.chunk_idx") === col("y.chunk_idx") &&
            col("x.chunk_bits") === col("y.chunk_bits") &&
            col("x.doc_id") < col("y.doc_id"),
        ).select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)]
      }
      val joined = candidates()
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
        "the grown chunk self-join must read the buckets without a shuffle")
      // A row appended under a stale bucket count sits in the wrong
      // bucket's file, and the exchange-free join misses its pairs.
      val bucketed = joined.collect().toSet
      spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
      val unbucketed = try candidates().collect().toSet
      finally spark.conf.unset("spark.sql.sources.bucketing.enabled")
      assert(bucketed.exists { case (a, b) => grown(a) || grown(b) },
        "expected candidate pairs involving the appended keepers")
      assert(bucketed == unbucketed)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("streaming dedup flags dups against index + earlier arrivals and grows the index with keepers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val prefix = "mediastream"
    Seq(s"${prefix}_fps", s"${prefix}_chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val rows = media().select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])].collect().sortBy(_._1)
    val images = rows.filter(_._2 == "image").map(_._1)
    val cut = images(images.length / 2)
    val (seedRows, streamRows) = rows.partition(_._1 < cut)
    MediaIndexOps.writeIndex(
      seedRows.toSeq.toDF("doc_id", "media_type", "payload"),
      Regions, Bands, buckets = 4, prefix = prefix)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Array[Byte])]
    val collected = scala.collection.mutable.Buffer[(Long, Long, Int)]()
    val ckpt = java.nio.file.Files.createTempDirectory("media_stream").toFile.getAbsolutePath
    val q = IndexCatalog.stream(in.toDF().toDF("doc_id", "media_type", "payload"), ckpt) {
      (batch, _) =>
        collected ++= MediaIndexOps.dedupBatchAndGrow(
          spark, prefix, batch, Regions, Bands, maxHamming = MaxHamming,
        ).as[(Long, Long, Int)].collect()
    }
    // Three arrival waves, ascending doc_id (so every cross-wave match
    // has the new doc as the higher id).
    val waves = streamRows.grouped(streamRows.length / 3 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    // Independent expectation: greedy simulation of the documented
    // match rule over the single-pass operator's pair set (itself
    // pinned by its DuckDB oracle).
    val pairs = MultimodalOps.nearDupPairs(media(), Regions, Bands, MaxHamming)
      .as[(Long, Long, Int)].collect() // doc_a < doc_b
    val streamedImages = streamRows.filter(_._2 == "image").map(_._1)
    val wave = streamedImages
      .map(id => id -> waves.indexWhere(_.exists(_._1 == id))).toMap
    val kept = scala.collection.mutable.Set(seedRows.filter(_._2 == "image").map(_._1): _*)
    val expected = scala.collection.mutable.Buffer[(Long, Long, Int)]()
    streamedImages.foreach { x =>
      val hits = pairs.collect {
        case (a, b, h) if b == x && (wave.get(a) match {
              case None => kept.contains(a) // seed corpus: keepers only
              case Some(wa) if wa < wave(x) => kept.contains(a) // earlier wave: keepers only
              case Some(wa) => wa == wave(x) // same wave: any lower id
            }) => (x, a, h)
      }
      if (hits.isEmpty) kept += x else expected ++= hits
    }
    assert(collected.nonEmpty, "stream should observe near-dup images")
    assert(collected.toSet == expected.toSet,
      s"stream dups mismatch:\n got ${collected.sorted.mkString(", ")}\n exp ${expected.sorted.mkString(", ")}")
    val storedIds = spark.table(s"${prefix}_fps").select("doc_id").as[Long].collect().toSet
    assert(storedIds == kept.toSet, "index must contain exactly the keepers")
    // Replay safety: re-running a committed batch flags no self-dups
    // and inserts no keeper twice.
    val before = spark.table(s"${prefix}_fps").count()
    val replayDups = MediaIndexOps.dedupBatchAndGrow(
      spark, prefix, waves.last.toSeq.toDF("doc_id", "media_type", "payload"),
      Regions, Bands, maxHamming = MaxHamming)
      .as[(Long, Long, Int)].collect()
    assert(!replayDups.exists(r => r._1 == r._2), "replayed keepers must not flag themselves")
    assert(spark.table(s"${prefix}_fps").count() == before,
      "a replayed batch must not grow the index")
  }

  test("compact and rebucket cover the _meta table that ingest appends to") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import graft.operators.IndexCatalog
    val pre = "mediaixmetalayout"
    Seq("_fps", "_chunks", "_meta", "_batches")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $pre$sfx"))
    val stored = media().filter(col("doc_id") % 4 === 0)
    MediaIndexOps.writeIndex(stored, Regions, Bands, buckets = 4, prefix = pre)
    MediaIndexOps.writeMetaTable(stored, buckets = 4, prefix = pre)
    (1 to 3).foreach { r =>
      MediaIndexOps.dedupBatchAndGrow(
        spark, pre, media().filter(col("doc_id") % 4 === r), Regions, Bands,
        maxHamming = MaxHamming)
    }
    val meta = s"${pre}_meta"
    def rows = spark.table(meta).collect().map(_.toString).sorted.toSeq
    val grown = rows
    assert(IndexCatalog.maxFilesPerBucket(spark, meta) > 1, "the appends added no _meta files")
    assert(IndexCatalog.MediaIndex.compact(spark, pre, 1).contains(meta))
    assert(IndexCatalog.maxFilesPerBucket(spark, meta) == 1)
    assert(rows == grown)
    IndexCatalog.MediaIndex.rebucket(spark, pre, 8)
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(meta)).bucketSpec
      .contains(BucketSpec(8, Seq("doc_id"), Seq("doc_id"))))
    assert(rows == grown)
    assert(IndexCatalog.MediaIndex.fileStats(spark, pre).select("table").collect().map(_.getString(0))
      .contains(meta))
  }

  test("compaction and rebucket keep the chunk table's graft.block_bands property") {
    def blockBands(t: String) = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
      .properties.get("graft.block_bands")
    val pre = "mediaixprops"
    Seq("_fps", "_chunks", "_batches").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $pre$sfx"))
    MediaIndexOps.writeIndex(
      media().filter(col("doc_id") % 2 === 0), Regions, Bands, buckets = 4, prefix = pre)
    MediaIndexOps.dedupBatchAndGrow(
      spark, pre, media().filter(col("doc_id") % 2 === 1), Regions, Bands,
      maxHamming = MaxHamming)
    assert(IndexCatalog.MediaIndex.compact(spark, pre, 1).contains(s"${pre}_chunks"))
    assert(blockBands(s"${pre}_chunks").contains(Bands.toString), "compaction dropped it")
    IndexCatalog.MediaIndex.rebucket(spark, pre, 8)
    assert(blockBands(s"${pre}_chunks").contains(Bands.toString), "rebucket dropped it")
    // A rebucketed EMPTY index still states its layout, so an
    // index×index sweep needs no max(chunk_idx) derivation (which has
    // nothing to derive from and throws).
    import spark.implicits._
    val empty = "mediaixpropsempty"
    Seq("_fps", "_chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $empty$t"))
    MediaIndexOps.writeIndex(
      Seq.empty[(Long, String, Array[Byte])].toDF("doc_id", "media_type", "payload"),
      Regions, Bands, buckets = 2, prefix = empty)
    IndexCatalog.MediaIndex.rebucket(spark, empty, 4)
    val vid = MultimodalQueries.fullMediaIndex(spark, Sf, "video")
    assert(MediaIndexOps.frameMatchFromIndexes(spark, empty, vid, MaxHamming).isEmpty)
  }

  test("incrementally admitted keepers are visible to the exact-dup digest probe") {
    import spark.implicits._
    val pre = "mediaixmetagrow"
    Seq("_fps", "_chunks", "_meta", "_batches")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $pre$sfx"))
    val stored = media().filter(col("doc_id") % 5 =!= 0)
    val batch = media().filter(col("doc_id") % 5 === 0)
    MediaIndexOps.writeIndex(stored, Regions, Bands, buckets = 4, prefix = pre)
    MediaIndexOps.writeMetaTable(stored, buckets = 4, prefix = pre)
    val metaBefore = spark.table(s"${pre}_meta").count()
    MediaIndexOps.dedupBatchAndGrow(
      spark, pre, batch, Regions, Bands, maxHamming = MaxHamming)
    // The admitted keepers' meta rows landed in the same commit: one
    // row per kept fps doc_id, each its own ex_keeper.
    val keptIds = spark.table(s"${pre}_fps").select("doc_id").as[Long].collect().toSet --
      stored.select("doc_id").as[Long].collect().toSet
    assert(keptIds.nonEmpty)
    val metaRows = spark.table(s"${pre}_meta")
    assert(metaRows.count() == metaBefore + keptIds.size)
    assert(metaRows.filter(col("doc_id").isin(keptIds.toSeq: _*))
      .filter(col("ex_keeper") =!= col("doc_id")).isEmpty)
    // Replay an EXACT copy of an admitted item (same payload, fresh
    // doc_id): the digest probe must label it exact_dup with the
    // admitted item's doc_id as dup_of — not near_dup at hamming 0.
    val admitted = keptIds.min
    val payload = batch.filter(col("doc_id") === admitted)
      .select("payload").as[Array[Byte]].head()
    val maxId = media().agg(max(col("doc_id"))).as[Long].head()
    val copy = Seq((maxId + 1L, "image", payload)).toDF("doc_id", "media_type", "payload")
    val (floor, label) = MultimodalOps.imageFloor(16384L)
    val verdict = MediaIndexOps.uploadVerdict(
      spark, pre, copy, Regions, Bands, MaxHamming, floor, label)
      .as[(Long, String, java.lang.Long)].collect().toSeq
    assert(verdict == Seq((maxId + 1L, "exact_dup", java.lang.Long.valueOf(admitted))),
      s"expected exact_dup of $admitted, got $verdict")
  }

  test("crash between chunks and fps appends is repaired on replay") {
    import spark.implicits._
    val prefix = "mediacrash"
    Seq(s"${prefix}_fps", s"${prefix}_chunks", s"${prefix}_meta", s"${prefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val rows = media().select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])].collect().sortBy(_._1)
    val images = rows.filter(_._2 == "image").map(_._1)
    val cut = images(images.length / 2)
    val (seedRows, streamRows) = rows.partition(_._1 < cut)
    val seed = seedRows.toSeq.toDF("doc_id", "media_type", "payload")
    MediaIndexOps.writeIndex(seed, Regions, Bands, buckets = 4, prefix = prefix)
    // Meta rides the same ledgered commit — the crash/repair must keep
    // it exactly-once too.
    MediaIndexOps.writeMetaTable(seed, buckets = 4, prefix = prefix)
    val batch = streamRows.toSeq.toDF("doc_id", "media_type", "payload")
    // The kill: keepers' chunks land, the fps membership rows do not.
    intercept[IllegalStateException] {
      MediaIndexOps.dedupBatchAndGrow(
        spark, prefix, batch, Regions, Bands, maxHamming = MaxHamming,
        crashAfter = "chunks")
    }
    val chunksAfterCrash = spark.table(s"${prefix}_chunks").count()
    assert(spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    // Replay: chunks must not double, fps must land, and the repaired
    // index must equal a clean uninterrupted run.
    val replayDups = MediaIndexOps.dedupBatchAndGrow(
      spark, prefix, batch, Regions, Bands, maxHamming = MaxHamming)
      .as[(Long, Long, Int)].collect().toSet
    assert(spark.table(s"${prefix}_chunks").count() == chunksAfterCrash,
      "repair must not re-append the chunks that survived the crash")
    assert(!replayDups.exists(d => d._1 == d._2), "no self-dups on the repair replay")
    val cleanPrefix = "mediacrashref"
    Seq(s"${cleanPrefix}_fps", s"${cleanPrefix}_chunks", s"${cleanPrefix}_meta",
      s"${cleanPrefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    MediaIndexOps.writeIndex(seed, Regions, Bands, buckets = 4, prefix = cleanPrefix)
    MediaIndexOps.writeMetaTable(seed, buckets = 4, prefix = cleanPrefix)
    val cleanDups = MediaIndexOps.dedupBatchAndGrow(
      spark, cleanPrefix, batch, Regions, Bands, maxHamming = MaxHamming)
      .as[(Long, Long, Int)].collect().toSet
    assert(replayDups == cleanDups, "replayed dups must equal the uninterrupted run's")
    val repaired = MediaIndexOps.nearDupPairs(spark, prefix, MaxHamming)
    val clean = MediaIndexOps.nearDupPairs(spark, cleanPrefix, MaxHamming)
    assert(repaired.exceptAll(clean).isEmpty && clean.exceptAll(repaired).isEmpty,
      "repaired index must serve pairs identical to the uninterrupted run")
    val repairedMeta = spark.table(s"${prefix}_meta")
    val cleanMeta = spark.table(s"${cleanPrefix}_meta")
    assert(repairedMeta.exceptAll(cleanMeta).isEmpty && cleanMeta.exceptAll(repairedMeta).isEmpty,
      "repaired meta must equal the uninterrupted run's — exactly-once under crash/replay")
  }

  test("grow-everything ingest keeps every artifact bit-equal to a from-scratch rebuild") {
    import spark.implicits._
    val pre = "mediaixgrow"
    val ref = "mediaixgrowref"
    val tables = Seq("_fps", "_chunks", "_meta", "_clusters", "_cclusters", "_batches")
    Seq(pre, ref).foreach(p => tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $p$t")))
    val rows = media().select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])].collect().sortBy(_._1)
    val images = rows.filter(_._2 == "image").map(_._1)
    val cut = images(images.length / 2)
    val (seedRows, rest) = rows.partition(_._1 < cut)
    // Exercise the ex_keeper relabel: an exact copy of a SEED image's
    // payload arrives later under a SMALLER doc_id — the from-scratch
    // rebuild assigns both rows ex_keeper = -7, so the incremental
    // path must relabel the stored row too.
    val seedImg = seedRows.find(_._2 == "image").get
    val halves = rest.grouped(rest.length / 2 + 1).toSeq
    val waves = Seq(halves.head.toSeq, halves(1).toSeq :+ (-7L, "image", seedImg._3))
    val seed = seedRows.toSeq.toDF("doc_id", "media_type", "payload")
    MediaIndexOps.writeIndex(seed, Regions, Bands, buckets = 4, prefix = pre)
    MediaIndexOps.writeCurationArtifacts(spark, seed, MaxHamming, buckets = 4, prefix = pre)
    waves.foreach { w =>
      MediaIndexOps.ingestBatchAndMaintain(
        spark, pre, w.toDF("doc_id", "media_type", "payload"),
        Regions, Bands, maxHamming = MaxHamming)
    }
    val union = (seedRows.toSeq ++ waves.flatten).toDF("doc_id", "media_type", "payload")
    MediaIndexOps.writeIndex(union, Regions, Bands, buckets = 4, prefix = ref)
    MediaIndexOps.writeCurationArtifacts(spark, union, MaxHamming, buckets = 4, prefix = ref)
    Seq("_fps", "_meta", "_clusters", "_cclusters").foreach { t =>
      val grown = spark.table(s"$pre$t")
      val rebuilt = spark.table(s"$ref$t")
      assert(rebuilt.count() > 0, s"$t rebuild is empty")
      assert(
        grown.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(grown).isEmpty,
        s"incrementally maintained $t differs from the from-scratch rebuild")
    }
    // The relabel genuinely fired: the stored seed image's keeper is
    // now the later-arriving smaller id.
    assert(spark.table(s"${pre}_meta").filter(col("doc_id") === seedImg._1)
      .select("ex_keeper").as[Long].head() == -7L)
    // Replaying the last wave is a no-op on every artifact.
    val before = Seq("_fps", "_meta", "_clusters", "_cclusters")
      .map(t => t -> spark.table(s"$pre$t").collect().toSeq).toMap
    MediaIndexOps.ingestBatchAndMaintain(
      spark, pre, waves.last.toDF("doc_id", "media_type", "payload"),
      Regions, Bands, maxHamming = MaxHamming)
    before.foreach { case (t, rows0) =>
      assert(spark.table(s"$pre$t").collect().toSeq.sortBy(_.toString) ==
        rows0.sortBy(_.toString), s"replaying a committed batch must not change $t")
    }
  }

  test("index-by-index frame match equals the corpus-scan screen and joins exchange-free") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val imgPre = "mediaixfmimg"
    val vidPre = "mediaixfmvid"
    Seq(imgPre, vidPre).foreach(p =>
      Seq(s"${p}_fps", s"${p}_chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
    MediaIndexOps.writeIndex(media(), Regions, Bands, buckets = 4, prefix = imgPre)
    MediaIndexOps.writeIndex(
      media(), Regions, Bands, buckets = 4, prefix = vidPre, mediaType = "video")
    val fromIdx = MediaIndexOps.frameMatchFromIndexes(spark, imgPre, vidPre, MaxHamming)
    val direct = MultimodalOps.frameMatchPairs(media(), Regions, Bands, MaxHamming)
    assert(fromIdx.count() > 0)
    assert(fromIdx.exceptAll(direct).isEmpty && direct.exceptAll(fromIdx).isEmpty,
      "index-by-index frame match must equal the corpus-scan screen")
    // Both chunk tables are bucketed on the join keys at the same
    // count, so the equi-join must read them in place: no
    // ShuffleExchange under either join child.
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = MediaIndexOps.frameMatchFromIndexes(spark, imgPre, vidPre, MaxHamming)
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j: SparkPlan
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j: SparkPlan
      }
      assert(joins.nonEmpty, s"expected a shuffled-family join over the chunk tables:\n$plan")
      joins.head.children.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"a bucketed chunk scan sits under an exchange:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("grown cross-modal families equal the from-scratch assignment; layout guard fails fast") {
    // The incrementally-grown families artifact (seeded from the
    // split-video sweep, last fifth merged via the arrival-time match)
    // must be bit-equal to the families built from the full sweep.
    val grown = spark.table(MultimodalQueries.grownFrameMatchFamiliesTable(spark, Sf))
    val full = spark.table(MultimodalQueries.frameMatchFamiliesTable(spark, Sf))
    assert(full.count() > 0)
    assert(grown.exceptAll(full).isEmpty && full.exceptAll(grown).isEmpty,
      "grown families must equal the from-scratch label-prop")
    // The stored chunk layout is 6 bands; an index×index sweep at
    // maxHamming ≥ 6 would silently lose matches (pigeonhole needs
    // bands > maxHamming) — it must throw instead.
    val img = MultimodalQueries.fullMediaIndex(spark, Sf, "image")
    val vid = MultimodalQueries.fullMediaIndex(spark, Sf, "video")
    intercept[IllegalArgumentException] {
      MediaIndexOps.frameMatchFromIndexes(spark, img, vid, maxHamming = 6)
    }
    // A legacy index (no graft.block_bands property) that is also
    // EMPTY has nothing to derive the band count from: the sweep must
    // fail with the explicit require message, not an NPE off the null
    // max(chunk_idx).
    import spark.implicits._
    val empty = "mediaixlegacyempty"
    Seq("_fps", "_chunks", "_batches").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $empty$t"))
    MediaIndexOps.writeIndex(
      Seq.empty[(Long, String, Array[Byte])].toDF("doc_id", "media_type", "payload"),
      regions = 49, blockBands = 8, buckets = 2, prefix = empty)
    spark.sql(s"ALTER TABLE ${empty}_chunks UNSET TBLPROPERTIES ('graft.block_bands')")
    val e = intercept[IllegalArgumentException] {
      MediaIndexOps.frameMatchFromIndexes(spark, empty, vid, maxHamming = 5)
    }
    assert(e.getMessage.contains("is empty"),
      s"the empty-legacy path must fail with the derivation message, got: ${e.getMessage}")
  }

  test("VIDEO grow-everything ingest stays bit-equal to a from-scratch rebuild") {
    // The hardest incremental case: every pair the grow path merges is a
    // MIN across per-frame matches. N batches of incremental ingest over
    // a per-frame index must leave _fps/_meta/_clusters identical to
    // rebuilding from the full union (no _cclusters — consensus is
    // image-only by design).
    import spark.implicits._
    val pre = "mediaixgrowvid"
    val ref = "mediaixgrowvidref"
    val tables = Seq("_fps", "_chunks", "_meta", "_clusters", "_batches")
    Seq(pre, ref).foreach(p => tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $p$t")))
    val rows = media().filter(col("media_type") === "video")
      .select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])].collect().sortBy(_._1)
    val cut = rows(rows.length / 2)._1
    val (seedRows, rest) = rows.partition(_._1 < cut)
    val waves = rest.grouped(rest.length / 2 + 1).map(_.toSeq).toSeq
    val seed = seedRows.toSeq.toDF("doc_id", "media_type", "payload")
    MediaIndexOps.writeIndex(
      seed, Regions, Bands, buckets = 4, prefix = pre, mediaType = "video")
    MediaIndexOps.writeCurationArtifacts(
      spark, seed, MaxHamming, buckets = 4, prefix = pre, mediaType = "video")
    waves.foreach { w =>
      MediaIndexOps.ingestBatchAndMaintain(
        spark, pre, w.toDF("doc_id", "media_type", "payload"),
        Regions, Bands, maxHamming = MaxHamming, mediaType = "video")
    }
    val union = (seedRows.toSeq ++ waves.flatten).toDF("doc_id", "media_type", "payload")
    MediaIndexOps.writeIndex(
      union, Regions, Bands, buckets = 4, prefix = ref, mediaType = "video")
    MediaIndexOps.writeCurationArtifacts(
      spark, union, MaxHamming, buckets = 4, prefix = ref, mediaType = "video")
    Seq("_fps", "_meta", "_clusters").foreach { t =>
      val grown = spark.table(s"$pre$t")
      val rebuilt = spark.table(s"$ref$t")
      assert(rebuilt.count() > 0, s"$t rebuild is empty")
      assert(
        grown.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(grown).isEmpty,
        s"incrementally maintained video $t differs from the from-scratch rebuild")
    }
  }

  test("crash between meta and fps appends is repaired on replay without doubling meta") {
    import spark.implicits._
    val prefix = "mediacrashmeta"
    Seq(s"${prefix}_fps", s"${prefix}_chunks", s"${prefix}_meta", s"${prefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val stored = media().filter(col("doc_id") % 5 =!= 0)
    val batch = media().filter(col("doc_id") % 5 === 0)
    MediaIndexOps.writeIndex(stored, Regions, Bands, buckets = 4, prefix = prefix)
    MediaIndexOps.writeMetaTable(stored, buckets = 4, prefix = prefix)
    intercept[IllegalStateException] {
      MediaIndexOps.dedupBatchAndGrow(
        spark, prefix, batch, Regions, Bands, maxHamming = MaxHamming,
        crashAfter = "meta")
    }
    val metaAfterCrash = spark.table(s"${prefix}_meta").count()
    assert(spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    MediaIndexOps.dedupBatchAndGrow(
      spark, prefix, batch, Regions, Bands, maxHamming = MaxHamming)
    assert(spark.table(s"${prefix}_meta").count() == metaAfterCrash,
      "repair must not re-append the meta rows that survived the crash")
    assert(!spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    // Every fps member has exactly one meta row after the repair.
    val fpsIds = spark.table(s"${prefix}_fps").select("doc_id")
    val metaIds = spark.table(s"${prefix}_meta").select("doc_id")
    assert(fpsIds.exceptAll(metaIds).isEmpty, "every member must carry a meta row")
    assert(metaIds.count() == metaIds.distinct().count(), "meta rows must be unique per doc")
  }
}
