package graft

import org.apache.spark.sql.functions._
import graft.operators.{IndexCatalog, SearchIndexOps, SearchOps}

/** The persisted inverted-index artifact (SearchIndexOps): every read
  * path must equal the corpus-scan operator bit-for-bit, the read-path
  * plan must never touch the corpus (and must prune postings buckets to
  * the query terms), and incremental append must merge df/N partials so
  * the grown index answers exactly as a full-corpus scan.
  */
class SearchIndexSpec extends SparkSpec {

  private val Prefix = "searchix"
  private val Terms = Seq("dup", "spark", "window")
  private val RankTerms = Seq("dup", "spark", "table")

  private def buildOnce(): Unit =
    if (!spark.catalog.tableExists(s"${Prefix}_postings")) {
      SearchIndexOps.writeIndex(Tables.documents(spark, Sf), buckets = 8, prefix = Prefix)
    }

  private def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("indexed AND / phrase / ranked equal the corpus-scan operators") {
    buildOnce()
    val docs = Tables.documents(spark, Sf)
    assert(same(
      SearchIndexOps.searchAnd(spark, Prefix, Terms),
      SearchOps.searchAnd(docs, Terms),
    ), "AND results must match the corpus-scan face")
    assert(same(
      SearchIndexOps.searchPhrase(spark, Prefix, Seq("table", "table")),
      SearchOps.searchPhrase(docs, Seq("table", "table")),
    ), "phrase results must match the corpus-scan face")
    assert(same(
      SearchIndexOps.searchRanked(spark, Prefix, RankTerms, 10),
      SearchOps.searchRanked(docs, RankTerms, 10),
    ), "ranked results (scores included) must match the corpus-scan face")
    assert(same(
      SearchIndexOps.searchBm25(spark, Prefix, RankTerms, 10),
      SearchOps.searchBm25(docs, RankTerms, 10),
    ), "BM25 results (scores included) must match the corpus-scan face")
  }

  test("read path scans only index tables and prunes postings buckets to the query terms") {
    buildOnce()
    for (
      q <- Seq(
        SearchIndexOps.searchAnd(spark, Prefix, Terms),
        SearchIndexOps.searchRanked(spark, Prefix, RankTerms, 10),
      )
    ) {
      val plan = q.queryExecution.executedPlan.toString
      // No corpus participation: the only file scans are the index
      // tables (documents.parquet would surface as a scan over the
      // testdata path / a "text" column read).
      assert(!plan.contains("documents"), s"read path must not scan the corpus:\n$plan")
      assert(!plan.contains("text#"), s"read path must not read document text:\n$plan")
      // Bucket pruning: the literal term filter selects a strict subset
      // of the 8 term buckets at the scan.
      val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findAllMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
      assert(selected.nonEmpty, s"expected bucket pruning at the postings scan:\n$plan")
      selected.foreach { case (sel, total) =>
        assert(sel < total, s"term filter must prune buckets ($sel of $total selected):\n$plan")
      }
    }
  }

  test("appended batch merges into df/N partials: grown index equals full-corpus scan") {
    val prefix = "searchincr"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf)
    SearchIndexOps.writeIndex(docs.filter(col("doc_id") % 5 =!= 0), buckets = 8, prefix = prefix)
    SearchIndexOps.appendDocuments(spark, prefix, docs.filter(col("doc_id") % 5 === 0))
    // Ranked exercises df (lexicon partial sum) and N (meta partial
    // sum); a missed merge shifts every score.
    assert(same(
      SearchIndexOps.searchRanked(spark, prefix, RankTerms, 10),
      SearchOps.searchRanked(docs, RankTerms, 10),
    ), "ranked search over the grown index must equal a full-corpus scan")
    assert(same(
      SearchIndexOps.searchAnd(spark, prefix, Terms),
      SearchOps.searchAnd(docs, Terms),
    ), "AND search over the grown index must equal a full-corpus scan")
    // BM25 exercises every stored artifact at once: postings (tf),
    // lexicon (df), docs (length norms), meta (N and avgdl partials).
    assert(same(
      SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10),
      SearchOps.searchBm25(docs, RankTerms, 10),
    ), "BM25 over the grown index must equal a full-corpus scan")
    // The meta table holds exactly two partial rows summing to the
    // corpus size — the append added, never rewrote.
    import spark.implicits._
    val metaRows = spark.table(s"${prefix}_meta").select("n_docs").as[Long].collect().sorted
    assert(metaRows.length == 2, s"expected two partial meta rows, got ${metaRows.toSeq}")
    assert(metaRows.sum == docs.count(), "meta partials must sum to the corpus size")
  }

  test("crash between postings and docs appends is repaired on replay without double-counting") {
    val prefix = "searchcrash"
    Seq("postings", "lexicon", "docs", "meta", "batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf)
    SearchIndexOps.writeIndex(docs.filter(col("doc_id") % 5 =!= 0), buckets = 4, prefix = prefix)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // The kill: the postings (and only the postings) append lands —
    // lexicon/meta/docs and the ledger commit never happen. This is the
    // window that previously double-counted tf/df on replay, because
    // the docs-table guard could not see the half-landed batch.
    intercept[IllegalStateException] {
      SearchIndexOps.indexBatch(spark, prefix, batch, crashAfter = "postings")
    }
    assert(spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty,
      "no commit row may exist after the crash")
    val postingsAfterCrash = spark.table(s"${prefix}_postings").count()
    // The replay, as a restarted foreachBatch would deliver it: the
    // ledger shows intent-without-commit, so each table append is
    // presence-guarded — postings must NOT land twice, the other three
    // must land exactly once.
    SearchIndexOps.indexBatch(spark, prefix, batch)
    assert(spark.table(s"${prefix}_postings").count() == postingsAfterCrash,
      "repair must not re-append the postings that survived the crash (tf/df would double)")
    assert(spark.table(s"${prefix}_meta").count() == 2, "exactly one meta partial per build/batch")
    import spark.implicits._
    assert(spark.table(s"${prefix}_meta").select("n_docs").as[Long].collect().sum == docs.count(),
      "meta partials must sum to the corpus size")
    // The repaired index answers bit-identically to a clean full build.
    assert(same(
      SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10),
      SearchOps.searchBm25(docs.select("doc_id", "text"), RankTerms, 10),
    ), "post-repair BM25 must equal the corpus scan")
    // And replaying the now-committed batch once more is a no-op.
    val metaDone = spark.table(s"${prefix}_meta").count()
    SearchIndexOps.indexBatch(spark, prefix, batch)
    assert(spark.table(s"${prefix}_meta").count() == metaDone)
  }

  test("crash after the docs append (before the ledger commit) replays to a no-op") {
    val prefix = "searchcrash2"
    Seq("postings", "lexicon", "docs", "meta", "batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf)
    SearchIndexOps.writeIndex(docs.filter(col("doc_id") % 5 =!= 0), buckets = 4, prefix = prefix)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // All four tables land; only the commit row is lost.
    intercept[IllegalStateException] {
      SearchIndexOps.indexBatch(spark, prefix, batch, crashAfter = "docs")
    }
    val postings = spark.table(s"${prefix}_postings").count()
    val meta = spark.table(s"${prefix}_meta").count()
    // Replay: the doc-level guard filters the batch to empty (docs —
    // the membership table — committed), so nothing is appended.
    SearchIndexOps.indexBatch(spark, prefix, batch)
    assert(spark.table(s"${prefix}_postings").count() == postings)
    assert(spark.table(s"${prefix}_meta").count() == meta)
    assert(same(
      SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10),
      SearchOps.searchBm25(docs.select("doc_id", "text"), RankTerms, 10),
    ))
  }

  test("replayed micro-batch is idempotent: the anti-join guard appends nothing twice") {
    val prefix = "searchreplay"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf)
    SearchIndexOps.writeIndex(docs.filter(col("doc_id") % 5 =!= 0), buckets = 4, prefix = prefix)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    SearchIndexOps.indexBatch(spark, prefix, batch)
    val once = SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq
    val postingsOnce = spark.table(s"${prefix}_postings").count()
    val metaOnce = spark.table(s"${prefix}_meta").count()
    // The replay: same batch again, as a restarted foreachBatch would
    // deliver it after a crash-after-commit.
    SearchIndexOps.indexBatch(spark, prefix, batch)
    assert(spark.table(s"${prefix}_postings").count() == postingsOnce,
      "a replayed committed batch must not re-append postings (tf/df would double)")
    assert(spark.table(s"${prefix}_meta").count() == metaOnce,
      "a replayed committed batch must not add meta partials (N would inflate)")
    assert(SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == once,
      "index-served BM25 must be bit-identical after a replay")
    // And a PARTIAL overlap (some new, some already-indexed docs) keeps
    // only the new rows — the guard is per-document, not per-batch.
    import spark.implicits._
    val mixed = Seq((910001L, "replay guard fresh doc")).toDF("doc_id", "text")
      .unionByName(batch.select("doc_id", "text").limit(3))
    SearchIndexOps.indexBatch(spark, prefix, mixed)
    assert(spark.table(s"${prefix}_docs").filter(col("doc_id") === 910001L).count() == 1,
      "new docs in a partially-replayed batch must still land")
    assert(same(
      SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10),
      SearchOps.searchBm25(docs.select("doc_id", "text")
        .unionByName(Seq((910001L, "replay guard fresh doc")).toDF("doc_id", "text")),
        RankTerms, 10),
    ), "after the mixed append the index must equal a scan of exactly corpus + the one new doc")
  }

  test("replay guard cost is batch-proportional: stored docs scan prunes to the batch's buckets") {
    val prefix = "searchguard"
    Seq("postings", "lexicon", "docs", "meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf)
    SearchIndexOps.writeIndex(docs, buckets = 8, prefix = prefix)
    // A two-id batch: its IN-list must prune the stored docs scan to at
    // most two of the eight doc_id buckets (the readCells caveat
    // applies — bare guard plans need autoBucketedScan off to SHOW the
    // pruning; parquet row-group skipping on the pushed In holds
    // either way).
    import spark.implicits._
    // One already-indexed id (40 — must be filtered) and one fresh id
    // (900061 — must survive), so the equality check below is
    // non-trivial in both directions.
    val batch = Seq((40L, "guard probe a"), (900061L, "guard probe b"))
      .toDF("doc_id", "text").localCheckpoint()
    val before = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val guard = SearchIndexOps.replayGuardFresh(spark, prefix, batch)
      val plan = guard.queryExecution.executedPlan.toString
      val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findAllMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
      assert(selected.nonEmpty, s"expected bucket pruning at the stored docs scan:\n$plan")
      selected.foreach { case (sel, total) =>
        assert(sel <= 2 && sel < total,
          s"guard must read only the batch's buckets ($sel of $total):\n$plan")
      }
      assert(plan.contains("BroadcastExchange"),
        s"the pruned guard side must broadcast, not shuffle the batch:\n$plan")
      // And the pruned guard is semantically the full anti-join.
      val expected = batch
        .join(spark.table(s"${prefix}_docs").select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val got = guard.select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == expected, "pruned guard must equal the unpruned anti-join")
    } finally spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", before)
  }

  test("rebucket preserves results bit-for-bit and keeps bucket pruning at the new count") {
    val prefix = "searchrebkt"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    SearchIndexOps.writeIndex(Tables.documents(spark, Sf), buckets = 4, prefix = prefix)
    def ranked() = SearchIndexOps.searchRanked(spark, prefix, RankTerms, 10).collect().toSeq
    def numBuckets() = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(s"${prefix}_postings"))
      .bucketSpec.map(_.numBuckets).getOrElse(0)
    val before = ranked()
    assert(before.nonEmpty && numBuckets() == 4)
    IndexCatalog.SearchIndex.rebucket(spark, prefix, newBuckets = 16)
    assert(numBuckets() == 16)
    assert(ranked() == before, "physical rebucketing must not change results")
    val plan = SearchIndexOps.searchAnd(spark, prefix, Terms)
      .queryExecution.executedPlan.toString
    val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(selected.nonEmpty && selected.forall { case (sel, total) => total == 16 && sel < total },
      s"pruning must hold at the new bucket count:\n$plan")
    // Appends read the live bucket count from the catalog, so an
    // append AFTER the rebucket must succeed (a hard-coded count would
    // fail the bucket-spec match here and kill a running stream).
    import spark.implicits._
    SearchIndexOps.appendDocuments(spark, prefix,
      Seq((900001L, "rebucket survivor doc")).toDF("doc_id", "text"))
    assert(spark.table(s"${prefix}_docs").filter(col("doc_id") === 900001L).count() == 1,
      "post-rebucket append must land")
  }

  test("rebucket stages all tables first: reads during the rewrite serve the old index") {
    val prefix = "searchswap"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    SearchIndexOps.writeIndex(Tables.documents(spark, Sf), buckets = 4, prefix = prefix)
    val before = SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq
    // Phase 1: the minutes-long part at scale. Every replacement table
    // is staged under a _rebucket name; the live index is untouched, so
    // a reader here — mid-maintenance — gets full, consistent answers.
    val staged = IndexCatalog.SearchIndex.stageRebucket(spark, prefix, newBuckets = 16)
    assert(SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == before,
      "reads during the staging rewrite must serve the old index bit-for-bit")
    assert(staged.map(_._2).forall(spark.catalog.tableExists),
      "all replacement tables must exist before any live name moves")
    // Phase 2: rename-first commit. Afterward: same results, new
    // layout, no staged or recovery tables left behind.
    graft.operators.IndexCatalog.swapStaged(spark, staged)
    assert(SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == before,
      "the swap must preserve results bit-for-bit")
    staged.foreach { case (live, tmp) =>
      assert(spark.catalog.tableExists(live), s"$live must be live after the swap")
      assert(!spark.catalog.tableExists(tmp), s"$tmp must be gone after the swap")
      assert(!spark.catalog.tableExists(s"${live}_old"), s"${live}_old must be dropped")
    }
    assert(graft.operators.IndexCatalog.bucketSpec(spark, s"${prefix}_postings").numBuckets == 16)
  }

  test("an append after a rebucket interrupted between table swaps lands in every table") {
    import spark.implicits._
    import graft.operators.IndexCatalog
    def build(prefix: String): Unit = {
      Seq("postings", "lexicon", "docs", "meta").foreach { t =>
        Seq("", "_rebucket", "_old").foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t$s"))
      }
      SearchIndexOps.writeIndex(Tables.documents(spark, Sf), buckets = 4, prefix = prefix)
    }
    build("searchhalf")
    build("searchwhole")
    // The process dies after swapStaged renamed postings and before it
    // reached lexicon and docs: the tables now disagree on bucket count.
    val staged = IndexCatalog.SearchIndex.stageRebucket(spark, "searchhalf", newBuckets = 16)
    IndexCatalog.swapStaged(spark, staged.filter(_._1 == "searchhalf_postings"))
    assert(IndexCatalog.bucketSpec(spark, "searchhalf_postings").numBuckets == 16)
    assert(IndexCatalog.bucketSpec(spark, "searchhalf_lexicon").numBuckets == 4)
    val batch = Seq((900002L, "spark dup table spark window")).toDF("doc_id", "text")
    SearchIndexOps.appendDocuments(spark, "searchhalf", batch)
    SearchIndexOps.appendDocuments(spark, "searchwhole", batch)
    assert(spark.table("searchhalf_docs").filter(col("doc_id") === 900002L).count() == 1,
      "the append must land in _docs")
    assert(
      SearchIndexOps.searchRanked(spark, "searchhalf", RankTerms, 10).collect().toSeq ==
        SearchIndexOps.searchRanked(spark, "searchwhole", RankTerms, 10).collect().toSeq,
      "ranked results must equal the same append on an index with no partial swap")
  }

  test("mid-swap reads retry then fall back to _old; a dangling _old is recovered") {
    import graft.operators.IndexCatalog
    val prefix = "searchdangle"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_postings_old")
    SearchIndexOps.writeIndex(Tables.documents(spark, Sf), buckets = 4, prefix = prefix)
    val before = SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq
    // Inject the exact mid-swap instant: live renamed to `_old`, the
    // staged table not yet renamed over the live name. A read landing
    // here used to fail with NoSuchTable; readLive must serve `_old`.
    spark.sql(s"ALTER TABLE ${prefix}_postings RENAME TO ${prefix}_postings_old")
    assert(
      SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == before,
      "a read during the rename window must serve the _old recovery copy bit-for-bit")
    // The crash-between-renames state (no live, dangling `_old`):
    // recoverDangling must rename the sole complete copy back.
    IndexCatalog.recoverDangling(spark, s"${prefix}_postings")
    assert(spark.catalog.tableExists(s"${prefix}_postings"), "live name must be restored")
    assert(!spark.catalog.tableExists(s"${prefix}_postings_old"), "_old must be gone")
    assert(SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == before)
    // And swapStaged itself must tolerate entering on a dangling state:
    // stage a replacement, re-inject the dangling rename, then swap —
    // the entry recovery restores the live name instead of DROPping the
    // only copy, and the swap completes normally.
    val staged = IndexCatalog.SearchIndex.stageRebucket(spark, prefix, newBuckets = 8)
    spark.sql(s"ALTER TABLE ${prefix}_postings RENAME TO ${prefix}_postings_old")
    IndexCatalog.swapStaged(spark, staged)
    assert(SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == before,
      "swap entered on a dangling state must still commit the staged index")
    assert(!spark.catalog.tableExists(s"${prefix}_postings_old"))
    assert(graft.operators.IndexCatalog.bucketSpec(spark, s"${prefix}_postings").numBuckets == 8)
  }

  test("streaming ingest grows the index per micro-batch; queries equal a full-corpus scan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prefix = "searchstream"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val cut = docs(docs.length / 3)._1
    val (seed, streamed) = docs.partition(_._1 < cut)
    SearchIndexOps.writeIndex(seed.toSeq.toDF("doc_id", "text"), buckets = 4, prefix = prefix)
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("search_stream").toFile.getAbsolutePath
    val q = IndexCatalog.stream(in.toDF().toDF("doc_id", "text"), ckpt)((batch, _) =>
      SearchIndexOps.indexBatch(spark, prefix, batch))
    val waves = streamed.grouped(streamed.length / 2 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    assert(same(
      SearchIndexOps.searchRanked(spark, prefix, RankTerms, 10),
      SearchOps.searchRanked(Tables.documents(spark, Sf), RankTerms, 10),
    ), "stream-grown index must answer exactly as a full-corpus scan")
    import spark.implicits._
    val metaRows = spark.table(s"${prefix}_meta").select("n_docs").as[Long].collect()
    assert(metaRows.length == 1 + waves.length, "one meta partial per build/batch")
    assert(metaRows.sum == docs.length.toLong, "meta partials must sum to the corpus size")
  }

  test("compaction bounds per-bucket files after appends and preserves results bit-for-bit") {
    import graft.operators.IndexCatalog
    val prefix = "searchcompact"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf)
    SearchIndexOps.writeIndex(docs.filter(col("doc_id") % 5 === 0), buckets = 4, prefix = prefix)
    // k appends — each adds one file per touched bucket, degrading
    // every pruned read by k files per probe.
    (1 to 4).foreach(r =>
      SearchIndexOps.appendDocuments(spark, prefix, docs.filter(col("doc_id") % 5 === r)))
    val before = SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq
    assert(IndexCatalog.maxFilesPerBucket(spark, s"${prefix}_postings") > 2,
      "appends must have fragmented the postings buckets (precondition)")
    val rewritten = IndexCatalog.SearchIndex.compact(spark, prefix, maxFilesPerBucket = 2)
    assert(rewritten.contains(s"${prefix}_postings"), s"postings must be compacted: $rewritten")
    assert(rewritten.contains(s"${prefix}_meta"), s"meta partial files must be coalesced: $rewritten")
    // Bounded: one file per bucket after the rewrite, bucket count kept.
    assert(IndexCatalog.maxFilesPerBucket(spark, s"${prefix}_postings") == 1,
      "compaction must collapse each bucket to one file")
    assert(IndexCatalog.bucketSpec(spark, s"${prefix}_postings").numBuckets == 4,
      "compaction must keep the bucket count (rebucket is the other dial)")
    assert(SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == before,
      "compaction must preserve results bit-for-bit")
    // Within budget now: a second pass must touch nothing.
    assert(IndexCatalog.SearchIndex.compact(spark, prefix, maxFilesPerBucket = 2).isEmpty,
      "a compacted index must not be rewritten again")
    // The health view reports every table with its physical counts.
    val stats = IndexCatalog.SearchIndex.fileStats(spark, prefix).collect()
    assert(stats.length == 4 && stats.forall(_.getLong(1) >= 1), stats.mkString(", "))
    // Appends keep working against the compacted layout.
    import spark.implicits._
    SearchIndexOps.appendDocuments(spark, prefix,
      Seq((930001L, "post compact doc")).toDF("doc_id", "text"))
    assert(spark.table(s"${prefix}_docs").filter(col("doc_id") === 930001L).count() == 1)
  }

  test("a Search _meta compaction writes its coalesced copy in one Spark job") {
    val prefix = "searchmetacompact"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    SearchIndexOps.writeIndex(Tables.documents(spark, Sf), buckets = 4, prefix = prefix)
    IndexCatalog.SearchIndex.compact(spark, prefix, maxFilesPerBucket = 1)
    // Two zero partials: only `_meta` passes the budget, and every sum
    // it answers stays the same.
    val meta = s"${prefix}_meta"
    (1 to 2).foreach(_ => IndexCatalog.append(spark, meta,
      spark.table(meta).limit(1).withColumn("n_docs", lit(0L)).withColumn("n_tokens", lit(0L))))
    val before = SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq
    var rewritten = Seq.empty[String]
    val jobs = jobsOf { rewritten = IndexCatalog.SearchIndex.compact(spark, prefix, maxFilesPerBucket = 1) }
    assert(rewritten == Seq(meta), s"only _meta is over budget: $rewritten")
    assert(jobs == 1, s"the _meta compaction ran $jobs Spark jobs")
    assert(spark.table(meta).inputFiles.length == 1, "the partials land in one file")
    assert(SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10).collect().toSeq == before)
  }

  test("a constructed read pins its snapshot: appends land only in reads built after them") {
    import spark.implicits._
    val prefix = "searchsnap"
    Seq("postings", "lexicon", "docs", "meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val docs = Tables.documents(spark, Sf)
    SearchIndexOps.writeIndex(docs, buckets = 4, prefix = prefix)
    // Construct (and thereby analyze) the read BEFORE the append: all
    // four tables' file listings resolve here, in one synchronous call.
    val pinned = SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10)
    val before = pinned.collect().toSeq
    // A concurrent append (with its cache refresh) lands between the
    // read's construction and a later execution...
    SearchIndexOps.appendDocuments(spark, prefix,
      Seq((920001L, "dup spark table dup spark table dup spark table")).toDF("doc_id", "text"))
    // ...and must NOT tear the pinned read: it still serves the exact
    // pre-append snapshot — never new postings against old df/meta.
    assert(pinned.collect().toSeq == before,
      "a read constructed before an append must serve its own consistent snapshot")
    // A read constructed AFTER the append sees the new generation in
    // all four tables at once.
    assert(same(
      SearchIndexOps.searchBm25(spark, prefix, RankTerms, 10),
      SearchOps.searchBm25(docs.select("doc_id", "text").unionByName(
        Seq((920001L, "dup spark table dup spark table dup spark table")).toDF("doc_id", "text")),
        RankTerms, 10),
    ), "a read constructed after the append must see it consistently everywhere")
  }

  test("lexicon partial sums equal postings-derived document frequencies") {
    buildOnce()
    val fromLexicon = spark.table(s"${Prefix}_lexicon")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val fromPostings = spark.table(s"${Prefix}_postings")
      .groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    assert(same(fromLexicon, fromPostings),
      "lexicon df partials must sum to the true per-term document frequency")
  }
}
