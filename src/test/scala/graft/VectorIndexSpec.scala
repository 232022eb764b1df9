package graft

import org.apache.spark.sql.functions._
import graft.operators.{IndexCatalog, SimilarityOps, VectorIndexOps}

/** The persisted IVF vector index (VectorIndexOps): index-served search
  * must equal the on-the-fly trained path bit-for-bit, the read path
  * must touch only index tables, literal cell probes must prune
  * buckets, and appends must assign against the FROZEN stored codebook.
  */
class VectorIndexSpec extends SparkSpec {

  private val Prefix = "vecix"
  private val K = 3

  private def buildOnce(): Unit =
    if (!spark.catalog.tableExists(s"${Prefix}_vectors")) {
      VectorIndexOps.writeIndex(
        Tables.embeddings(spark, Sf), dim = 64, isSeed = col("vec_id") < 8,
        iters = 2, buckets = 4, prefix = Prefix)
    }

  private def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("index-served IVF top-k equals the on-the-fly trained path, scores included") {
    buildOnce()
    val emb = Tables.embeddings(spark, Sf)
    val cb = SimilarityOps.trainCodebook(emb, blocks = 1, subDim = 64,
      isSeed = col("vec_id") < 8, iters = 2)
    val onTheFly = SimilarityOps.ivfTopK(
      emb.join(SimilarityOps.assignCells(emb, cb), "vec_id"),
      col("vec_id") < 10, col("cell"), K)
    val fromIndex = VectorIndexOps.ivfTopK(spark, Prefix, col("vec_id") < 10, K)
    assert(fromIndex.count() > 0)
    assert(same(fromIndex, onTheFly),
      "index-served results (cosines included) must equal the corpus-scan face")
  }

  test("search read path touches only index tables; literal cell probes prune buckets") {
    buildOnce()
    val plan = VectorIndexOps.ivfTopK(spark, Prefix, col("vec_id") < 10, K)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("testdata"), s"read path must not scan the corpus parquet:\n$plan")
    assert(!plan.contains("embedding#"), s"read path must not read raw embeddings:\n$plan")
    // Bare probe plans need autoBucketedScan off for the pruned read
    // (see readCells' caveat: Spark 4.1 drops the bucketed layout when
    // nothing downstream consumes the partitioning — measured, not
    // assumed; with the conf on, SelectedBucketsCount vanishes from
    // this exact plan).
    val before = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val pplan = VectorIndexOps.readCells(spark, Prefix, Seq(1L, 2L))
        .queryExecution.executedPlan.toString
      val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findAllMatchIn(pplan).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
      assert(selected.nonEmpty && selected.forall { case (sel, total) => sel < total },
        s"literal cell probe must prune buckets:\n$pplan")
    } finally spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", before)
  }

  test("build/append projection assigns map-side: no Exchange, cells equal assignCells") {
    val emb = Tables.embeddings(spark, Sf)
    val cb = SimilarityOps.trainCodebook(emb, blocks = 1, subDim = 64,
      isSeed = col("vec_id") < 8, iters = 2)
    val proj = VectorIndexOps.assignedProjection(emb, cb)
    // The corpus side of a build/append is scan → 1-row broadcast join
    // → project: no shuffle before the bucketed write (the round-8
    // finding — the assignCells join-back form shuffled the whole
    // corpus, and recurred per micro-batch under streaming ingest).
    // The only Exchanges allowed are the K-row codebook's own collapse
    // (SinglePartition collect + BroadcastExchange of one row); the
    // corpus must never hash-shuffle and must be scanned exactly once
    // (the join-back form shuffled it on vec_id AND scanned it twice).
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"build projection must not shuffle the corpus:\n$plan")
    assert("embeddings\\.parquet".r.findAllIn(plan).size == 1,
      s"build projection must scan the corpus exactly once:\n$plan")
    // Same arithmetic, same tie order → identical cells.
    assert(same(
      proj.select(col("vec_id"), col("cell")),
      SimilarityOps.assignCells(emb, cb),
    ), "inline per-row argmin must agree with the assignCells face exactly")
  }

  test("index-served multi-probe equals the on-the-fly trained path") {
    buildOnce()
    val emb = Tables.embeddings(spark, Sf)
    val cb = SimilarityOps.trainCodebook(emb, blocks = 1, subDim = 64,
      isSeed = col("vec_id") < 8, iters = 2)
    assert(same(
      VectorIndexOps.ivfMultiProbeTopK(spark, Prefix, nprobe = 2, col("vec_id") < 10, K),
      SimilarityOps.ivfMultiProbeTopK(emb, cb, nprobe = 2, col("vec_id") < 10, K),
    ), "multi-probe over the stored artifact must equal the corpus-scan face")
  }

  test("streaming ingest assigns each micro-batch against the frozen codebook") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prefix = "vecstream"
    Seq("codebook", "vectors", "batches").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    val rows = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    val cut = rows(rows.length / 2)._1
    val (seed, streamed) = rows.partition(_._1 < cut)
    VectorIndexOps.writeIndex(
      seed.toSeq.toDF("vec_id", "embedding"), dim = 64, isSeed = col("vec_id") < 8,
      iters = 2, buckets = 4, prefix = prefix)
    val in = MemoryStream[(Long, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("vec_stream").toFile.getAbsolutePath
    val q = IndexCatalog.stream(in.toDF().toDF("vec_id", "embedding"), ckpt)(
      VectorIndexOps.ingestBatch(spark, prefix, _, _))
    val waves = streamed.grouped(streamed.length / 2 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    // Expected: codebook frozen at the seed corpus, assignment over all.
    val cb = SimilarityOps.trainCodebook(seed.toSeq.toDF("vec_id", "embedding"),
      blocks = 1, subDim = 64, isSeed = col("vec_id") < 8, iters = 2)
    val expected = SimilarityOps.ivfTopK(
      emb.join(SimilarityOps.assignCells(emb, cb), "vec_id"),
      col("vec_id") < 10, col("cell"), K)
    assert(same(
      VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K),
      expected,
    ), "stream-grown index must equal frozen-codebook assignment over the full corpus")
    assert(spark.table(s"${prefix}_vectors").count() == rows.length.toLong,
      "every streamed vector must land exactly once")
  }

  test("two streams with fresh checkpoints over one index both land every row") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prefix = "vecrepoint"
    Seq("codebook", "vectors", "cellstats", "batches").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    VectorIndexOps.writeIndex(
      emb, dim = 64, isSeed = col("vec_id") < 8, iters = 2, buckets = 4, prefix = prefix)
    val seeded = spark.table(s"${prefix}_vectors").count()
    val base = emb.select("vec_id", "embedding").as[(Long, Array[Float])].head()._2
    // Each stream starts from its own fresh checkpoint, so both number
    // their micro-batches from epoch 0; the second must not be taken
    // for a replay of the first.
    def stream(ids: Seq[Long]): Unit = {
      val in = MemoryStream[(Long, Array[Float])]
      val ckpt = java.nio.file.Files.createTempDirectory("vec_repoint").toFile.getAbsolutePath
      val q = IndexCatalog.stream(in.toDF().toDF("vec_id", "embedding"), ckpt)(
        VectorIndexOps.ingestBatch(spark, prefix, _, _))
      try ids.grouped(2).foreach { w => in.addData(w.map(i => (i, base))); q.processAllAvailable() }
      finally q.stop()
    }
    val first = 920001L to 920004L
    val second = 930001L to 930004L
    stream(first)
    stream(second)
    val landed = spark.table(s"${prefix}_vectors").filter(col("vec_id") >= 920001L)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(landed == first ++ second, "every row of both streams must land exactly once")
    assert(spark.table(s"${prefix}_vectors").count() == seeded + first.size + second.size)
  }

  test("replayed micro-batch is idempotent: the batch ledger skips applied ids") {
    val prefix = "vecreplay"
    Seq("codebook", "vectors", "batches").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    VectorIndexOps.writeIndex(
      emb.filter(col("vec_id") % 5 =!= 0), dim = 64, isSeed = col("vec_id") < 8,
      iters = 2, buckets = 4, prefix = prefix)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    VectorIndexOps.ingestBatch(spark, prefix, batch, batchId = 7L)
    val once = VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K).collect().toSeq
    val countOnce = spark.table(s"${prefix}_vectors").count()
    // The replay: foreachBatch re-delivers the same (batch, batchId)
    // after a crash-after-commit; the ledger must skip it wholesale.
    VectorIndexOps.ingestBatch(spark, prefix, batch, batchId = 7L)
    assert(spark.table(s"${prefix}_vectors").count() == countOnce,
      "a replayed committed batch must not duplicate vectors")
    assert(
      spark.table(s"${prefix}_vectors").select("vec_id").distinct().count() == countOnce,
      "vec_ids must stay unique after a replay")
    assert(VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K).collect().toSeq == once,
      "index-served search must be bit-identical after a replay")
    // A genuinely new batch id still lands (the guard is per-batch-id,
    // not a one-shot latch).
    import spark.implicits._
    val extra = Seq((910001L, Array.fill(64)(0.25f))).toDF("vec_id", "embedding")
    VectorIndexOps.ingestBatch(spark, prefix, extra, batchId = 8L)
    assert(spark.table(s"${prefix}_vectors").filter(col("vec_id") === 910001L).count() == 1,
      "a new batch id must append normally")
  }

  test("crash between vectors and cellstats appends is repaired on replay without duplicates") {
    val prefix = "veccrash"
    Seq("codebook", "vectors", "cellstats", "batches").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    VectorIndexOps.writeIndex(
      emb.filter(col("vec_id") % 5 =!= 0), dim = 64, isSeed = col("vec_id") < 8,
      iters = 2, buckets = 4, prefix = prefix)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    // The kill: vectors land, the cellstats partial and the ledger
    // commit never do — the window that used to re-append the batch
    // wholesale on replay (duplicate vec_ids, double radius partials).
    intercept[IllegalStateException] {
      VectorIndexOps.ingestBatch(spark, prefix, batch, batchId = 7L, crashAfter = "vectors")
    }
    assert(spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    val vectorsAfterCrash = spark.table(s"${prefix}_vectors").count()
    val statsAfterCrash = spark.table(s"${prefix}_cellstats").count()
    // Replay: intent-without-commit → presence-guarded repair — the
    // vectors append must NOT re-run, the cellstats partial must land
    // exactly once.
    VectorIndexOps.ingestBatch(spark, prefix, batch, batchId = 7L)
    assert(spark.table(s"${prefix}_vectors").count() == vectorsAfterCrash,
      "repair must not duplicate the vectors that survived the crash")
    assert(
      spark.table(s"${prefix}_vectors").select("vec_id").distinct().count() == vectorsAfterCrash,
      "vec_ids must stay unique after the repair")
    val bk = batch.agg(org.apache.spark.sql.functions.min(col("vec_id"))).first().getLong(0)
    val tagged = spark.table(s"${prefix}_cellstats").filter(col("batch_key") === bk)
    assert(tagged.count() > 0, "the missing cellstats partial must land on repair")
    assert(tagged.groupBy("cell").count().filter(col("count") > 1).isEmpty,
      "the batch's radius partial must land exactly once per cell")
    assert(spark.table(s"${prefix}_cellstats").count() > statsAfterCrash,
      "repair must append the partial the crash lost")
    // Repaired index serves range search bit-equal to brute force (the
    // read that consumes BOTH repaired tables).
    assert(same(
      VectorIndexOps.ivfRangeSearch(spark, prefix, col("vec_id") < 10, 0.3),
      SimilarityOps.rangeSearch(emb, col("vec_id") < 10, 0.3),
    ), "post-repair pruned range search must equal brute force")
    // A further replay of the now-committed batch is a wholesale skip.
    val done = spark.table(s"${prefix}_vectors").count()
    VectorIndexOps.ingestBatch(spark, prefix, batch, batchId = 7L)
    assert(spark.table(s"${prefix}_vectors").count() == done)
  }

  test("compaction after streaming appends bounds cell-bucket files, results unchanged") {
    import graft.operators.IndexCatalog
    val prefix = "veccompact"
    Seq("codebook", "vectors", "batches").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    VectorIndexOps.writeIndex(
      emb.filter(col("vec_id") % 5 === 0), dim = 64, isSeed = col("vec_id") < 8,
      iters = 2, buckets = 4, prefix = prefix)
    (1 to 4).foreach(r =>
      VectorIndexOps.ingestBatch(spark, prefix, emb.filter(col("vec_id") % 5 === r), r.toLong))
    val before = VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K).collect().toSeq
    assert(IndexCatalog.maxFilesPerBucket(spark, s"${prefix}_vectors") > 2,
      "ingest batches must have fragmented the cell buckets (precondition)")
    val rewritten = IndexCatalog.VectorIndex.compact(spark, prefix, maxFilesPerBucket = 2)
    assert(rewritten == Seq(s"${prefix}_vectors"), s"vectors must be compacted: $rewritten")
    assert(IndexCatalog.maxFilesPerBucket(spark, s"${prefix}_vectors") == 1,
      "compaction must collapse each cell bucket to one file")
    assert(VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K).collect().toSeq == before,
      "compaction must preserve search results bit-for-bit")
    assert(IndexCatalog.VectorIndex.compact(spark, prefix, maxFilesPerBucket = 2).isEmpty,
      "a compacted index must not be rewritten again")
  }

  test("ADC over stored codes equals the on-the-fly trained-ADC path") {
    buildOnce()
    val emb = Tables.embeddings(spark, Sf)
    val pqCb = SimilarityOps.trainCodebook(emb, blocks = 4, subDim = 16,
      isSeed = col("vec_id") < 8, iters = 2)
    VectorIndexOps.writePqCodes(
      emb, pqCb, blocks = 4, subDim = 16, nSeeds = 8, buckets = 4, prefix = Prefix)
    val fromIndex = VectorIndexOps.adcTopK(
      spark, Prefix, blocks = 4, subDim = 16, nSeeds = 8, col("vec_id") < 10, k = 5)
    val onTheFly = SimilarityOps.pqAdcTopK(emb, blocks = 4, subDim = 16, codebook = pqCb,
      nSeeds = 8, isQuery = col("vec_id") < 10, k = 5)
    assert(same(fromIndex, onTheFly),
      "stored-code ADC (approx distances included) must equal the corpus-scan face")
    // The read's corpus contact is codes only: no unit vectors, no raw
    // doubles from the vectors table except the query rows' slices.
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(!plan.contains("testdata"), s"ADC read must not scan the corpus parquet:\n$plan")
    assert(!plan.contains("u#"), s"ADC read must not touch unit vectors:\n$plan")
    // Two-stage rerank over the same stored artifacts equals the
    // on-the-fly composition (nominate from codes, exact re-rank).
    val rrIndex = VectorIndexOps.rerankTopK(
      spark, Prefix, blocks = 4, subDim = 16, nSeeds = 8, col("vec_id") < 10, r = 10, k = K)
    val rrFly = SimilarityOps.rerankExact(
      emb,
      SimilarityOps.pqAdcTopK(emb, blocks = 4, subDim = 16, codebook = pqCb,
        nSeeds = 8, isQuery = col("vec_id") < 10, k = 10),
      K)
    assert(same(rrIndex, rrFly),
      "index-served two-stage rerank must equal the on-the-fly composition")
    // IVF-PQ composed from artifacts equals the on-the-fly composition
    // over the same codebooks.
    val coarseCb = SimilarityOps.trainCodebook(emb, blocks = 1, subDim = 64,
      isSeed = col("vec_id") < 8, iters = 2)
    assert(same(
      VectorIndexOps.ivfPqTopK(spark, Prefix, blocks = 4, subDim = 16, nSeeds = 8,
        nprobe = 2, col("vec_id") < 10, k = 5),
      SimilarityOps.ivfPqTopK(emb, coarseCb, pqCb, blocks = 4, subDim = 16,
        nSeeds = 8, nprobe = 2, isQuery = col("vec_id") < 10, k = 5),
    ), "index-served IVF-PQ must equal the on-the-fly composition")
  }

  test("tombstoned vectors vanish from every read face; purge and re-insert restore invariants") {
    import spark.implicits._
    val prefix = "vecdel"
    Seq("codebook", "vectors", "batches", "tombstones", "codes", "pq_codebook")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    VectorIndexOps.writeIndex(
      emb, dim = 64, isSeed = col("vec_id") < 8, iters = 2, buckets = 4, prefix = prefix)
    val pqCb = SimilarityOps.trainCodebook(emb, blocks = 4, subDim = 16,
      isSeed = col("vec_id") < 8, iters = 2)
    VectorIndexOps.writePqCodes(
      emb, pqCb, blocks = 4, subDim = 16, nSeeds = 8, buckets = 4, prefix = prefix)
    val full = VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K).collect().toSeq
    val delIds = Seq(3L, 12L)
    VectorIndexOps.deleteVectors(spark, prefix, delIds.toDF("vec_id"))
    // IVF face: deleted ids appear neither as queries nor as neighbors,
    // and the result equals the on-the-fly face over the same frozen
    // codebook with those vectors excluded after assignment.
    val afterDel = VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K)
    assert(afterDel.filter(
      col("query_id").isin(delIds: _*) || col("neighbor_id").isin(delIds: _*)).isEmpty,
      "deleted vectors must be absent from IVF results")
    val cb = SimilarityOps.trainCodebook(emb, blocks = 1, subDim = 64,
      isSeed = col("vec_id") < 8, iters = 2)
    val expected = SimilarityOps.ivfTopK(
      emb.join(SimilarityOps.assignCells(emb, cb), "vec_id")
        .filter(!col("vec_id").isin(delIds: _*)),
      col("vec_id") < 10, col("cell"), K)
    assert(same(afterDel, expected),
      "post-delete IVF must equal the corpus-scan face minus the deleted vectors")
    // Materialize before the purge: the frame pins its file snapshot at
    // construction, and the purge swap replaces those files.
    val afterDelRows = afterDel.collect().toSeq
    // ADC face: the stale code rows must not serve the deleted vectors.
    assert(VectorIndexOps
      .adcTopK(spark, prefix, blocks = 4, subDim = 16, nSeeds = 8, col("vec_id") < 10, k = 5)
      .filter(col("query_id").isin(delIds: _*) || col("neighbor_id").isin(delIds: _*)).isEmpty,
      "deleted vectors must be absent from ADC results too")
    // Purge: physical rows gone, tombstone table gone, results
    // unchanged (reads were already filtering).
    val purged = VectorIndexOps.purgeTombstones(spark, prefix)
    assert(purged.toSet == Set(s"${prefix}_vectors", s"${prefix}_codes"))
    assert(spark.table(s"${prefix}_tombstones").isEmpty,
      "purge must clear the tombstone set")
    assert(spark.table(s"${prefix}_vectors").filter(col("vec_id").isin(delIds: _*)).isEmpty,
      "purge must physically drop tombstoned rows")
    assert(VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K).collect().toSeq
      == afterDelRows, "purge must not change results")
    // Re-insert after delete: append the deleted vectors back; the
    // index returns to the full-corpus answer with unique vec_ids.
    VectorIndexOps.deleteVectors(spark, prefix, delIds.toDF("vec_id"))
    VectorIndexOps.appendVectors(spark, prefix, emb.filter(col("vec_id").isin(delIds: _*)))
    assert(spark.table(s"${prefix}_vectors").filter(col("vec_id").isin(delIds: _*)).count() == 2,
      "re-inserted vectors must be present exactly once")
    assert(VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K).collect().toSeq == full,
      "after re-insert the index must answer as if never deleted")
  }

  test("append assigns against the frozen stored codebook, never retrains") {
    val prefix = "vecincr"
    Seq("codebook", "vectors").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    VectorIndexOps.writeIndex(
      emb.filter(col("vec_id") % 5 =!= 0), dim = 64, isSeed = col("vec_id") < 8,
      iters = 2, buckets = 4, prefix = prefix)
    VectorIndexOps.appendVectors(spark, prefix, emb.filter(col("vec_id") % 5 === 0))
    // Expected: quantizer trained on the subset only, assignment over
    // everything — the frozen-codebook contract stated independently
    // through the on-the-fly operators.
    val cb = SimilarityOps.trainCodebook(emb.filter(col("vec_id") % 5 =!= 0),
      blocks = 1, subDim = 64, isSeed = col("vec_id") < 8, iters = 2)
    val expected = SimilarityOps.ivfTopK(
      emb.join(SimilarityOps.assignCells(emb, cb), "vec_id"),
      col("vec_id") < 10, col("cell"), K)
    assert(same(
      VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K),
      expected,
    ), "grown index must equal subset-trained codebook + full-corpus assignment")
    // And it must DIFFER from a full-corpus retrain whenever the
    // centroids moved (guards against writeIndex secretly retraining).
    val cbFull = SimilarityOps.trainCodebook(emb, blocks = 1, subDim = 64,
      isSeed = col("vec_id") < 8, iters = 2)
    val retrained = SimilarityOps.ivfTopK(
      emb.join(SimilarityOps.assignCells(emb, cbFull), "vec_id"),
      col("vec_id") < 10, col("cell"), K)
    if (!same(expected, retrained)) {
      assert(!same(VectorIndexOps.ivfTopK(spark, prefix, col("vec_id") < 10, K), retrained),
        "grown index must reflect the frozen codebook, not a retrain")
    }
  }

  test("append contact is batch-proportional: no executed plan scans the stored vectors table") {
    val prefix = "vecappendpin"
    VectorIndexOps.writeIndex(
      Tables.embeddings(spark, Sf).filter(col("vec_id") % 5 =!= 0), dim = 64,
      isSeed = col("vec_id") < 8, iters = 2, buckets = 4, prefix = prefix)
    // Record every QueryExecution the append runs; none may contain a
    // parquet SCAN of the stored vectors table (writing TO it is the
    // append itself; reading it back per micro-batch would make ingest
    // O(index) — the round-9 verdict's guard-cost directive).
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long,
      ): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(
          f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception,
      ): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      VectorIndexOps.appendVectors(
        spark, prefix, Tables.embeddings(spark, Sf).filter(col("vec_id") % 5 === 0))
      // The listener bus is async; give it a bounded drain window.
      Thread.sleep(1500)
      val offending = plans.toArray(Array.empty[String]).filter { p =>
        p.linesIterator.exists(l =>
          (l.contains("FileScan") || l.contains("Scan parquet")) &&
            l.contains(s"${prefix}_vectors"))
      }
      assert(offending.isEmpty,
        s"append must not scan the stored corpus:\n${offending.headOption.getOrElse("")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("range search: cell-pruned index face bit-equals brute force, radii stay sound under append") {
    val prefix = "vecrange"
    Seq("codebook", "vectors", "cellstats").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val emb = Tables.embeddings(spark, Sf)
    // Build on a subset, append the rest: the appended batch's radius
    // partials must MERGE (max of maxes) or the bound could prune a
    // cell holding an appended true result.
    VectorIndexOps.writeIndex(
      emb.filter(col("vec_id") % 5 =!= 0), dim = 64, isSeed = col("vec_id") < 8,
      iters = 2, buckets = 4, prefix = prefix)
    VectorIndexOps.appendVectors(spark, prefix, emb.filter(col("vec_id") % 5 === 0))
    val brute = SimilarityOps.rangeSearch(emb, col("vec_id") < 10, 0.3)
    val pruned = VectorIndexOps.ivfRangeSearch(spark, prefix, col("vec_id") < 10, 0.3)
    assert(brute.count() > 0, "threshold must admit results for the equality to mean anything")
    assert(same(pruned, brute),
      "cell-pruned range search must equal the brute-force face bit-for-bit")
    // Soundness of the stored geometry: every stored vector's distance
    // to its cell's reference point is dominated by the cell's merged
    // r_max (the triangle bound's premise). Recomputes refPoint's
    // arithmetic independently.
    val p = {
      val n2 = aggregate(col("cv"), lit(0.0), (acc, x) => acc + x * x)
      transform(col("cv"), x => x / sqrt(n2))
    }
    val refs = spark.table(s"${prefix}_codebook").select(col("cid").as("cell"), p.as("p"))
    val dist = sqrt(aggregate(
      zip_with(col("u"), col("p"), (x, y) => (x - y) * (x - y)), lit(0.0), (a, d) => a + d))
    val merged = spark.table(s"${prefix}_cellstats")
      .groupBy("cell").agg(max(col("r_max")).as("r_max"))
    val violations = spark.table(s"${prefix}_vectors")
      .join(refs, "cell").join(merged, "cell")
      .filter(dist > col("r_max") + lit(1e-12))
      .count()
    assert(violations == 0, "every member's distance must be within its cell's merged radius")
    // Degenerate threshold: nothing qualifies, nothing throws.
    assert(VectorIndexOps.ivfRangeSearch(spark, prefix, col("vec_id") < 10, 0.9999).isEmpty)
  }
}
