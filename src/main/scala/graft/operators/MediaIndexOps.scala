package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED perceptual-fingerprint index — the storage-side face
  * of [[MultimodalOps.nearDupPairs]], the [[LshIndexOps]] discipline
  * applied to image dHash fingerprints: a media pipeline decodes and
  * fingerprints its images ONCE, publishes the fingerprints as
  * bucketed tables, and every consumer (near-dup pair generation,
  * incremental "is this upload a copy of anything we hold?",
  * continuous ingestion dedup) joins against the stored artifact
  * instead of re-decoding payload bytes.
  *
  * Two tables per index:
  *   - `<prefix>_fps(doc_id, dhash)` bucketed+sorted on doc_id — the
  *     authoritative fingerprint store and the membership table the
  *     ingest replay guard anti-joins (no stored-side exchange);
  *   - `<prefix>_chunks(doc_id, dhash, chunk_idx, chunk_bits)` — the
  *     [[Banding.chunkRows]] layout, bucketed on [[Banding.ChunkKeys]]:
  *     exactly the candidate self-join's keys, so pair generation needs
  *     NO shuffle below the join (MediaIndexSpec pins the exchange-free
  *     plan). Unlike the text LSH index, the verify artifact (the
  *     48-bit fingerprint) is ONE long, so it rides IN the chunk rows
  *     and candidates verify inline ([[Banding.hammingPairs]]) — no
  *     second join against stored sets at all.
  *
  * An `image` or `audio` index stores one fingerprint per item; a
  * `video` index stores ONE ROW PER FRAME. Every read and ingest face
  * serves both shapes unchanged, because [[Banding.hammingPairs]]
  * returns one row per pair at its minimum (pairwise-frame) hamming.
  *
  * At 100 TB this converts per-query corpus decode + fingerprint +
  * shuffle into a one-time build plus exchange-free bucketed reads.
  */
object MediaIndexOps {

  /** Fingerprint frame over one modality of a media frame:
    * (doc_id, dhash, chunks) — decode content from the real container
    * bytes, one [[graft.expressions.DHash]] pass, pigeonhole chunks by
    * the floor-division extraction [[MultimodalOps.nearDupPairs]]
    * documents (bits = regions−1 ≤ 52 keeps it exact in doubles).
    * `image`/`audio` rows carry one fingerprint per item; `video` rows
    * carry ONE ROW PER FRAME ([[MultimodalOps.videoFrameFingerprints]])
    * — the doc_id repeats, the membership/anti-join semantics on
    * doc_id are unchanged, and every pair face reports the MIN
    * pairwise-frame hamming ([[Banding.hammingPairs]]).
    */
  private def fpFrame(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      mediaType: String = "image",
  ): DataFrame = {
    val bits = regions - 1
    // EVERY modality fingerprints BOTH families in the one decode pass
    // (dhash drives the banding; whash rides along so the consensus
    // read face never re-decodes). Video rows are per-frame for dhash;
    // their whash is the WHOLE-ITEM fingerprint repeated on each frame
    // row — the global-structure family judges items, not slices.
    val fp =
      if (mediaType == "video")
        MultimodalOps.videoFrameFingerprints(media, regions, withWhash = true)
          .select(col("doc_id"), col("dhash"), col("whash"))
      else
        MultimodalOps.decodeContent(media)
          .filter(col("media_type") === mediaType)
          .select(
            col("doc_id"),
            graft.expressions.DHash(col("content"), regions).as("dhash"),
            graft.expressions.WHash(col("content"), regions, bits).as("whash"),
          )
    fp.select(
      col("doc_id"),
      col("dhash"),
      col("whash"),
      Banding.chunksCol(col("dhash"), bits, blockBands).as("chunks"),
    )
  }

  /** The chunk rows of an [[fpFrame]] (its precomputed `chunks`). */
  private def chunkRows(fp: DataFrame): DataFrame =
    Banding.chunkRows(fp, "dhash", col("chunks"))

  /** Builds and publishes the two index tables (overwriting any
    * previous index at `prefix`).
    */
  def writeIndex(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      buckets: Int,
      prefix: String,
      mediaType: String = "image",
  ): Unit = {
    IndexCatalog.dropLedger(media.sparkSession, prefix)
    // Materialize before the two table writes — each saveAsTable is
    // its own action, and the decode+fingerprint pass must run once.
    val fp = fpFrame(media, regions, blockBands, mediaType).localCheckpoint()
    fp.select(col("doc_id"), col("dhash"), col("whash"))
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_fps")
    chunkRows(fp)
      .write.mode("overwrite")
      .bucketBy(buckets, Banding.ChunkKeys.head, Banding.ChunkKeys.tail: _*)
      .saveAsTable(s"${prefix}_chunks")
    // Record the chunk layout on the artifact itself so index×index
    // consumers ([[frameMatchFromIndexes]]) can enforce the pigeonhole
    // recall guarantee without a data scan — appends inherit table
    // properties, so the value survives every ingest.
    media.sparkSession.sql(
      s"ALTER TABLE ${prefix}_chunks SET TBLPROPERTIES ('graft.block_bands' = '$blockBands')")
  }

  /** The stored chunk table's band count — from the `graft.block_bands`
    * property [[writeIndex]] records (metadata-only, kept by appends and
    * by every rebucket and compaction); indexes written before the
    * property existed derive it as max(chunk_idx)+1 — one narrow
    * dictionary-encoded column scan, paid only on the legacy path. A
    * legacy table that is EMPTY (built, never ingested) has no rows to
    * derive from — max() is NULL — so that case fails with an explicit
    * message instead of the bare NPE a blind getInt(0) threw.
    */
  private def storedBlockBands(spark: SparkSession, chunkTable: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(chunkTable))
      .properties.get("graft.block_bands").map(_.toInt)
      .getOrElse {
        val row = spark.table(chunkTable).agg(max(col("chunk_idx"))).head()
        require(
          !row.isNullAt(0),
          s"$chunkTable carries no graft.block_bands property and is empty — " +
            "the band count cannot be derived; rebuild the index with writeIndex",
        )
        row.getInt(0) + 1
      }

  /** Verified near-dup pairs from the stored index: the chunk
    * self-equi-join reads the bucketed artifact on both sides (no
    * exchange, no re-decode) and verifies hamming inline from the
    * fingerprints the chunk rows carry. Output is identical to
    * `MultimodalOps.nearDupPairs` (`nearDupPairsVideo` on a per-frame
    * index: pair score = MIN pairwise-frame hamming) on the corpus the
    * index was built from (MediaIndexSpec asserts equality; the
    * registry queries share the pairs oracles).
    */
  def nearDupPairs(spark: SparkSession, prefix: String, maxHamming: Int): DataFrame =
    Banding
      .hammingSelfPairs(IndexCatalog.readLive(spark, s"${prefix}_chunks"), "dhash", maxHamming)
      .orderBy("doc_a", "doc_b")

  /** TWO-FAMILY consensus from the STORED artifact
    * ([[MultimodalOps.nearDupConsensus]] as an index read): the dHash
    * chunk self-join proposes and hamming-verifies pairs exactly as
    * [[nearDupPairs]], then each pair picks up both sides' stored
    * Walsh–Hadamard fingerprints from the `_fps` table — the whash was
    * computed in the index build's single decode pass, so the
    * consensus judgment costs two narrow joins against fingerprint
    * rows and never re-reads a payload. Works on BOTH index shapes:
    * single-stream (one `_fps` row per doc — the per-doc whash pick is
    * an identity) and per-frame video (pair score = MIN pairwise-frame
    * hamming; the whash is the whole-item fingerprint every frame row
    * repeats, so `min(whash)` recovers exactly it — per-frame
    * duplication can never multiply pair rows).
    */
  def consensusFromIndex(
      spark: SparkSession,
      prefix: String,
      maxHamming: Int,
      whashBudget: Int,
  ): DataFrame = {
    val fps = IndexCatalog.readLive(spark, s"${prefix}_fps")
      .groupBy(col("doc_id"))
      .agg(min(col("whash")).as("whash"))
    val pairs = Banding
      .hammingSelfPairs(IndexCatalog.readLive(spark, s"${prefix}_chunks"), "dhash", maxHamming)
    MultimodalOps.confirmPairs(pairs, fps, whashBudget)
  }

  /** Persist just the `<prefix>_meta` table (the one-decoded-scan item
    * metadata + exact-dup keeper) — the half [[uploadVerdict]] needs;
    * [[writeCurationArtifacts]] adds the cluster assignment on top.
    */
  def writeMetaTable(
      media: DataFrame,
      buckets: Int,
      prefix: String,
      mediaType: String = "image",
  ): Unit =
    MultimodalOps.curationMeta(media, mediaType)
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_meta")

  /** Persist the CURATION artifacts next to the fingerprint index — the
    * deployment shape of a nightly curation verdict: `<prefix>_meta`
    * (doc_id, ex_keeper, width, height, n_bytes, has_signal — ONE
    * decoded scan over the payload bytes,
    * [[MultimodalOps.curationMeta]], instead of the separate exact-hash
    * / header / signal passes) and `<prefix>_clusters` (doc_id,
    * component — label-prop connected components over the verified
    * pairs read FROM the just-written chunk table, so clustering never
    * re-fingerprints a payload). Both bucketed+sorted on doc_id like
    * `_fps`, so the verdict read face joins them exchange-free. These
    * are BUILD-TIME artifacts (refreshed with the index, the nightly
    * cadence); between builds the ingest faces append `_meta` rows and
    * [[ingestBatchAndMaintain]] grows the cluster tables.
    */
  def writeCurationArtifacts(
      spark: SparkSession,
      media: DataFrame,
      maxHamming: Int,
      buckets: Int,
      prefix: String,
      mediaType: String = "image",
      whashBudget: Int = 5,
  ): Unit = {
    writeMetaTable(media, buckets, prefix, mediaType)
    DedupOps.connectedComponents(nearDupPairs(spark, prefix, maxHamming))
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_clusters")
    // The PRECISION-FIRST cluster assignment (both fingerprint families
    // agree — the auto-delete-policy clustering) is persisted on the
    // same cadence: its pairs read the stored fingerprints
    // ([[consensusFromIndex]]), label-prop runs once here, and the
    // read face is a bucket scan like `_clusters`. IMAGE-ONLY: the
    // consensus read face (`mm_index_consensus_clusters`) exists for
    // the image index alone; building the artifact for audio/video
    // would pay an extra consensus pass + label-prop + table write
    // that nothing reads. The drop keeps a stale prior-generation
    // artifact from being served.
    if (mediaType == "image")
      DedupOps.connectedComponents(
        consensusFromIndex(spark, prefix, maxHamming, whashBudget)
          .filter(col("confirmed"))
          .select(col("doc_a"), col("doc_b")))
        .write.mode("overwrite")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .saveAsTable(s"${prefix}_cclusters")
    else
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_cclusters")
  }

  /** The persisted PRECISION-FIRST (two-family-confirmed) cluster
    * assignment as a read face — [[clustersFromIndex]]'s sibling over
    * the `_cclusters` artifact.
    */
  def consensusClustersFromIndex(spark: SparkSession, prefix: String): DataFrame =
    IndexCatalog.readLive(spark, s"${prefix}_cclusters").orderBy("doc_id")

  /** The persisted cluster assignment as a read face — the dedup
    * clustering every downstream consumer (curation, savings,
    * keep-lists) acts on, served straight off the bucketed artifact:
    * label-prop ran ONCE at build time; a read costs a bucket scan.
    * Identical to `DedupOps.connectedComponents` over the corpus-scan
    * pairs (the registry faces share the oracles).
    */
  def clustersFromIndex(spark: SparkSession, prefix: String): DataFrame =
    IndexCatalog.readLive(spark, s"${prefix}_clusters").orderBy("doc_id")

  /** Dedup savings from the persisted artifacts — the storage-owner
    * report (`mm_dedup_savings`) as an index read: the cluster
    * assignment joins the meta table's payload sizes on the shared
    * doc_id bucketing (no exchange below the aggregation) and one
    * aggregation on the component key names the keeper, the member
    * count, and the bytes reclaimed by keeping only the keeper.
    */
  def savingsFromIndex(spark: SparkSession, prefix: String): DataFrame =
    IndexCatalog.readLive(spark, s"${prefix}_clusters")
      .join(
        IndexCatalog.readLive(spark, s"${prefix}_meta")
          .select(col("doc_id"), col("n_bytes").as("bytes")),
        "doc_id")
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(col("bytes")).as("bytes_total"),
        sum(when(col("doc_id") === col("component"), col("bytes")).otherwise(0L))
          .as("bytes_kept"),
      )
      .select(
        col("component").as("keeper_doc_id"),
        col("n_members"),
        col("bytes_total"),
        (col("bytes_total") - col("bytes_kept")).as("bytes_saved"),
      )
      .orderBy("keeper_doc_id")

  /** The curation verdict as an INDEX read —
    * [[MultimodalOps.curationPipeline]]'s per-query corpus decode +
    * fingerprint + label-prop replaced by two bucketed doc_id joins
    * against the persisted artifacts (the [[consensusFromIndex]]
    * accounting shape): at 100 TB a nightly verdict reads the stored
    * fingerprint index and cluster assignment, it does not
    * re-fingerprint the corpus per run. `floorReject`/`floorLabel`
    * carry the modality floor ([[MultimodalOps.imageFloor]] /
    * `videoFloor` / `audioFloor`). Bit-equal to the corpus-scan face on
    * the corpus the index was built from (MediaIndexSpec asserts it;
    * the registry queries share the oracles).
    */
  def curationFromIndex(
      spark: SparkSession,
      prefix: String,
      floorReject: org.apache.spark.sql.Column,
      floorLabel: String,
  ): DataFrame =
    MultimodalOps.curationVerdict(
      IndexCatalog.readLive(spark, s"${prefix}_meta"),
      IndexCatalog.readLive(spark, s"${prefix}_clusters"),
      floorReject, floorLabel)

  /** The UPLOAD-TIME curation verdict — the per-arrival decision a
    * media platform makes before admitting an item, entirely against
    * the STORED artifacts (read-only; admitting keepers is
    * [[dedupBatchAndGrow]]'s job): `exact_dup` when the arrival's
    * payload digest matches a stored item (probe against the `_meta`
    * digests — dup_of = the lowest stored doc_id holding it),
    * `near_dup` when the banded chunk join against the stored index
    * verifies a fingerprint match (dup_of = the stored item at the
    * smallest (hamming, doc_id) — deterministic arg-min), then the
    * modality floor, else `keep`. The arrival batch is decoded twice
    * (one [[MultimodalOps.mediaMeta]] scan for digest/header/floor, one
    * fingerprint pass inside [[dedupAgainstIndex]]); stored payloads
    * are never re-read and the bucketed chunk side never shuffles.
    */
  def uploadVerdict(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      floorReject: org.apache.spark.sql.Column,
      floorLabel: String,
      mediaType: String = "image",
  ): DataFrame = {
    val bm = MultimodalOps.mediaMeta(batch, mediaType).localCheckpoint()
    val ex = bm
      .select(col("doc_id"), col("payload_md5"))
      .join(
        IndexCatalog.readLive(spark, s"${prefix}_meta")
          .select(col("payload_md5"), col("doc_id").as("stored_id")),
        Seq("payload_md5"))
      .groupBy(col("doc_id"))
      .agg(min(col("stored_id")).as("exact_of"))
    val near = dedupAgainstIndex(
      spark, prefix, batch, regions, blockBands, maxHamming, mediaType)
      .groupBy(col("new_doc_id").as("doc_id"))
      .agg(min(struct(col("hamming"), col("dup_of"))).as("m"))
      .select(col("doc_id"), col("m.dup_of").as("near_of"))
    bm.join(ex, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact_dup"))
          .when(col("near_of").isNotNull, lit("near_dup"))
          .when(floorReject, lit(floorLabel))
          .otherwise(lit("keep")).as("status"),
        when(col("exact_of").isNotNull, col("exact_of"))
          .otherwise(col("near_of")).as("dup_of"),
      )
      .orderBy("doc_id")
  }

  /** GROW-EVERYTHING ingest + artifact maintenance — the full-corpus
    * nightly index's incremental face: every batch item is appended to
    * `_fps`/`_chunks` (and its meta row to `_meta`), and the batch's
    * verified pairs are merged into the persisted `_clusters` (and the
    * consensus-confirmed pairs into `_cclusters`, where present) by
    * [[DedupOps.growPersistedClusters]]' touched-component label-prop —
    * so the savings/curation/cluster read faces stay fresh between wholesale
    * rebuilds without re-fingerprinting or re-clustering the corpus.
    * Unlike [[dedupBatchAndGrow]] (the admission gate: dups are
    * REJECTED), this is the archive shape: dups are admitted and the
    * maintained cluster assignment is what names them for curation.
    *
    * Replay/crash safety: pair generation excludes the batch's own ids
    * from the stored side (immune to a prior partial append), both
    * cluster merges are idempotent, the ex_keeper relabel is a
    * least()-fixpoint, and the appends ride [[appendKeepers]]'s
    * intent/commit ledger with presence-probe repair — so replaying a
    * crashed batch converges to the uninterrupted result.
    *
    * ex_keeper exactness: a stored row sharing a payload digest with a
    * batch item of SMALLER doc_id is relabeled to the new global min —
    * a metadata-only `_meta` rewrite taken only when such a collision
    * exists (with monotone arrival ids it never fires and `_meta`
    * stays append-only; at 100 TB this is a MERGE on a transactional
    * table).
    */
  def ingestBatchAndMaintain(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      whashBudget: Int = 5,
      mediaType: String = "image",
  ): Unit = {
    val idx = fpFrame(batch, regions, blockBands, mediaType).localCheckpoint()
    val batchIds = idx.select(col("doc_id")).distinct().localCheckpoint()
    val batchChunks = chunkRows(idx)
    val storedChunks = spark.table(s"${prefix}_chunks")
      .join(batchIds, Seq("doc_id"), "left_anti")
    val vsStored = Banding.hammingPairs(batchChunks, storedChunks, "dhash", maxHamming)
    val withinBatch = Banding.hammingSelfPairs(batchChunks, "dhash", maxHamming)
    // One row per unordered pair at its min hamming: each side already
    // is, and they share no pair (the stored side excludes the batch).
    val pairs = vsStored.unionByName(withinBatch)
      .select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("hamming"))
      .localCheckpoint()
    // Cluster merges run BEFORE the ledgered appends: both are
    // idempotent, so any crash point replays cleanly; their inputs
    // never read un-excluded batch state. Recover swaps that crashed
    // between their renames first — a dangling `_old` must not read as
    // "no cluster artifact" (which would skip the merge yet still
    // commit the batch, leaving the read face stale).
    IndexCatalog.recoverDangling(spark, s"${prefix}_clusters")
    IndexCatalog.recoverDangling(spark, s"${prefix}_cclusters")
    IndexCatalog.recoverDangling(spark, s"${prefix}_meta")
    if (spark.catalog.tableExists(s"${prefix}_clusters"))
      DedupOps.growPersistedClusters(
        spark, s"${prefix}_clusters", pairs.select(col("doc_a"), col("doc_b")))
    if (spark.catalog.tableExists(s"${prefix}_cclusters")) {
      val wfp = spark.table(s"${prefix}_fps")
        .join(batchIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("whash"))
        .unionByName(idx.select(col("doc_id"), col("whash")))
        .groupBy(col("doc_id"))
        .agg(min(col("whash")).as("whash"))
      DedupOps.growPersistedClusters(
        spark, s"${prefix}_cclusters",
        MultimodalOps.confirmPairs(pairs, wfp, whashBudget)
          .filter(col("confirmed"))
          .select(col("doc_a"), col("doc_b")))
    }
    val (newRows, key) = IndexCatalog.checkpointKeyed(idx
      .join(spark.table(s"${prefix}_fps").select("doc_id"), Seq("doc_id"), "left_anti"))
    val metaCols = Seq("doc_id", "payload_md5", "width", "height", "n_bytes", "has_signal")
    val keptMeta =
      if (spark.catalog.tableExists(s"${prefix}_meta")) {
        val storedMeta = spark.table(s"${prefix}_meta")
          .join(batchIds, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val storedKeeper = storedMeta
          .groupBy(col("payload_md5")).agg(min(col("ex_keeper")).as("stored_keeper"))
        val newMeta = MultimodalOps
          .curationMeta(
            batch.join(newRows.select("doc_id"), Seq("doc_id"), "left_semi"), mediaType)
          .join(storedKeeper, Seq("payload_md5"), "left")
          .select(
            metaCols.map(col) :+
              least(col("ex_keeper"), coalesce(col("stored_keeper"), col("ex_keeper")))
                .as("ex_keeper"): _*)
          .localCheckpoint()
        val batchKeeper = newMeta
          .groupBy(col("payload_md5")).agg(min(col("ex_keeper")).as("batch_keeper"))
        val relabel = storedMeta
          .join(batchKeeper, Seq("payload_md5"))
          .filter(col("batch_keeper") < col("ex_keeper"))
        if (!relabel.isEmpty) {
          // STAGED rewrite (shadow table + rename-first swap): a crash
          // during the relabel write leaves the live `_meta` intact —
          // the replay recomputes the identical least()-fixpoint;
          // swapStaged's rename-instant window is RETRIED on the read
          // side (IndexCatalog.readLive → `_old` fallback) and a crash
          // between the renames is repaired by recoverDangling above.
          val staged = IndexCatalog.stageTableFrom(
            spark, s"${prefix}_meta",
            storedMeta
              .join(batchKeeper, Seq("payload_md5"), "left")
              .select(
                metaCols.map(col) :+
                  least(col("ex_keeper"), coalesce(col("batch_keeper"), col("ex_keeper")))
                    .as("ex_keeper"): _*)
              .localCheckpoint())
          IndexCatalog.swapStaged(spark, Seq(staged))
          spark.catalog.refreshTable(s"${prefix}_meta")
        }
        Some(newMeta)
      } else None
    appendKeepers(spark, prefix, newRows, key, crashAfter = "", keptMeta)
  }

  /** The skew STOP-KEY dial on the fingerprint banding (the
    * [[LshIndexOps.nearDupPairsCapped]] policy): chunk buckets holding
    * more than `maxBucket` fingerprints are excluded from candidate
    * generation. Template-generated image corpora concentrate many
    * fingerprints into a few chunk values (measured: the hottest
    * 8-bit chunk bucket holds ~8% of the sf0.1 image corpus, ~29k
    * candidate pairs for one chunk position), and one hot key of size
    * s costs s·(s−1)/2 verifications — the quadratic term at 100 TB.
    * Bounded-recall tradeoff stated plainly: a true near-dup pair is
    * missed only if EVERY one of its ≥1 colliding chunks is hot; the
    * exact pigeonhole guarantee is conceded for the capped keys only,
    * which are exactly the ones `mm_index_stats` surfaces. On a
    * per-frame (video) index the cap matters MORE: frame fingerprints
    * concentrate harder than whole-item ones (short slices of the
    * decoded stream, up to 16 per doc), and a true pair is missed only
    * if EVERY colliding frame chunk of its closest frame pair is hot.
    */
  def nearDupPairsCapped(
      spark: SparkSession,
      prefix: String,
      maxHamming: Int,
      maxBucket: Int,
  ): DataFrame = {
    val small = Banding.capSmallBuckets(
      IndexCatalog.readLive(spark, s"${prefix}_chunks"), Banding.ChunkKeys, maxBucket)
    Banding
      .hammingSelfPairs(small, "dhash", maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental dedup — the upload-time check a media pipeline runs:
    * fingerprint the new batch (its OWN decode, one pass), join its
    * chunks against the STORED chunk table (bucketed side never
    * shuffles), verify hamming inline. Stored payloads are never
    * re-read. Returns one (new_doc_id, dup_of, hamming ≤ maxHamming)
    * row per batch item that near-duplicates an indexed item, at the
    * pair's min hamming (pairwise-frame on a video index).
    */
  def dedupAgainstIndex(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      mediaType: String = "image",
  ): DataFrame = {
    val idx = fpFrame(batch, regions, blockBands, mediaType).localCheckpoint()
    Banding
      .hammingPairs(
        chunkRows(idx), IndexCatalog.readLive(spark, s"${prefix}_chunks"),
        "dhash", maxHamming, "new_doc_id", "dup_of")
      .orderBy("new_doc_id", "dup_of")
  }

  /** CROSS-MODAL frame match against the stored index — the
    * upload-time blocklist/copyright screen as an INDEX read: the
    * incoming videos are fingerprinted per frame (their own decode,
    * one pass) and their frame chunks join the STORED image chunk
    * table; hamming verifies inline from the fingerprints the chunk
    * rows carry, and the pair score is the MIN over frames — exact by
    * the pigeonhole argument [[MultimodalOps.frameMatchPairs]]
    * documents. Stored payloads are never re-read; the bucketed side
    * never shuffles. Output is identical to the corpus-scan operator
    * on the corpus the index was built from (MediaIndexSpec asserts
    * equality; the registry query shares the oracle).
    */
  def frameMatchAgainstIndex(
      spark: SparkSession,
      prefix: String,
      videos: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
  ): DataFrame = {
    val bits = regions - 1
    Banding.requirePigeonhole(blockBands, maxHamming)
    val vf = MultimodalOps.videoFrameFingerprints(videos, regions)
      .select(col("doc_id"), col("dhash"))
      .localCheckpoint()
    Banding
      .hammingPairs(
        IndexCatalog.readLive(spark, s"${prefix}_chunks"),
        Banding.chunkRows(vf, "dhash", bits, blockBands),
        "dhash", maxHamming, "image_id", "video_id")
      .orderBy("image_id", "video_id")
  }

  /** The cross-modal frame match as a PURE index×index read — both
    * sides come from STORED chunk tables (the image index and the
    * per-frame video index), so the takedown/licensing screen costs
    * one equi-join of two tables bucketed on the SAME
    * (chunk_idx, chunk_bits) keys: exchange-free on BOTH sides,
    * nothing decoded, no fingerprint recomputed ([[frameMatchAgainstIndex]]
    * is the arrival-time sibling that fingerprints an incoming batch;
    * this is the nightly full-catalog sweep). Output identical to
    * [[MultimodalOps.frameMatchPairs]] on the corpora the indexes hold
    * (MediaIndexSpec asserts it; the registry faces share the oracle).
    */
  def frameMatchFromIndexes(
      spark: SparkSession,
      imagePrefix: String,
      videoPrefix: String,
      maxHamming: Int,
  ): DataFrame = {
    // The pigeonhole recall guarantee needs bands > maxHamming — with
    // the chunk layout implicit in the STORED tables, a too-large
    // maxHamming would silently lose matches rather than fail. Both
    // sides must also agree on the layout, or the chunk_idx equi-join
    // compares different bit ranges.
    val bb = storedBlockBands(spark, s"${imagePrefix}_chunks")
    val bbV = storedBlockBands(spark, s"${videoPrefix}_chunks")
    require(
      bb == bbV,
      s"chunk layouts differ: $imagePrefix has $bb bands, $videoPrefix has $bbV")
    Banding.requirePigeonhole(bb, maxHamming)
    Banding
      .hammingPairs(
        IndexCatalog.readLive(spark, s"${imagePrefix}_chunks"),
        IndexCatalog.readLive(spark, s"${videoPrefix}_chunks"),
        "dhash", maxHamming, "image_id", "video_id")
      .orderBy("image_id", "video_id")
  }

  /** One micro-batch of the STREAMING image dedup: returns the batch's
    * near-dup rows `(new_doc_id, dup_of, hamming)` (one per verified
    * pair at its min hamming) and GROWS the index with the batch's
    * kept (non-dup, not-already-indexed) images — the
    * [[LshIndexOps.dedupBatchAndGrow]] greedy-keeper discipline on
    * fingerprints. A batch image is a dup if its chunks collide (and
    * hamming verifies) with (a) any INDEXED image — the self-collision
    * guard keeps a replayed batch's own keepers from flagging
    * themselves — or (b) any lower-doc_id image of the SAME batch.
    * Kept rows are anti-joined against the stored fps table before the
    * append (replay-safe on the index); the dup frame materializes
    * BEFORE the append mutates the tables it reads. Appends follow the
    * tables' live bucket spec (see [[IndexCatalog.Family.rebucket]]).
    */
  def dedupBatchAndGrow(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      crashAfter: String = "",
      mediaType: String = "image",
  ): DataFrame = {
    val idx = fpFrame(batch, regions, blockBands, mediaType).localCheckpoint()
    val batchChunks = chunkRows(idx)
    def verified(x: DataFrame, y: DataFrame, extra: org.apache.spark.sql.Column) =
      Banding.hammingPairs(
        x, y, "dhash", maxHamming, "new_doc_id", "dup_of", docPred = Some(extra))
    val vsIndex = verified(
      batchChunks,
      IndexCatalog.readLive(spark, s"${prefix}_chunks"),
      col("x.doc_id") =!= col("y.doc_id"),
    )
    val withinBatch = verified(batchChunks, batchChunks, col("y.doc_id") < col("x.doc_id"))
    val dups = vsIndex.unionByName(withinBatch).localCheckpoint()
    val (kept, key) = IndexCatalog.checkpointKeyed(idx
      .join(dups.select(col("new_doc_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .join(spark.table(s"${prefix}_fps").select("doc_id"), Seq("doc_id"), "left_anti"))
    // Incremental `_meta` maintenance: when the prefix carries the
    // curation-meta artifact, the admitted keepers' one-decoded-scan
    // meta rows ride the SAME ledgered commit — so the upload-time
    // digest probe sees incrementally-admitted items, and an exact
    // copy replayed later is labeled `exact_dup` with the digest-named
    // `dup_of` instead of `near_dup` at hamming 0. Keepers are
    // pairwise digest-distinct (an identical payload is a hamming-0
    // dup by construction), so each appended row's ex_keeper is its
    // own doc_id — exactly what a wholesale rebuild over the grown
    // corpus would assign it.
    val keptMeta =
      if (spark.catalog.tableExists(s"${prefix}_meta"))
        Some(MultimodalOps
          .curationMeta(
            batch.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"), mediaType)
          .localCheckpoint())
      else None
    appendKeepers(spark, prefix, kept, key, crashAfter, keptMeta)
    dups
  }

  /** Appends the batch's keepers to the index tables, crash-repairably
    * ([[IndexCatalog.ledgeredAppends]], keyed by the min kept doc_id;
    * the [[LshIndexOps]] keeper discipline): chunks, then the optional
    * `_meta` rows (`keptMeta`, when the prefix carries the curation-meta
    * artifact), then fps. Fps is the membership table the kept
    * anti-join reads, so its append is the batch's commit marker; the
    * reverse order would make a crash-between unrepairable (keepers in
    * fps with no chunk rows, invisible to every future candidate join,
    * and hidden from the replay by the very anti-join that should
    * repair them). Keepers never verify against each other, so a
    * replay recomputes the identical kept set even with their chunks
    * already stored (the self-collision guard covers exact replays).
    *
    * `crashAfter` is the spec's fault-injection seam: "chunks" or
    * "meta" throws right after that append.
    */
  private def appendKeepers(
      spark: SparkSession,
      prefix: String,
      kept: DataFrame,
      batchKey: Option[Long],
      crashAfter: String,
      keptMeta: Option[DataFrame] = None,
  ): Unit =
    // An empty batch needs no ledger entry.
    batchKey.foreach { key =>
      IndexCatalog.ledgeredAppends(spark, prefix, key, kept) { append =>
        def crash(point: String): Unit =
          if (crashAfter == point)
            throw new IllegalStateException(s"injected crash after $point append")
        append(new IndexCatalog.Append("chunks", chunkRows(kept)))
        crash("chunks")
        append(keptMeta.map(new IndexCatalog.Append("meta", _)).toSeq: _*)
        crash("meta")
        append(
          new IndexCatalog.Append("fps", kept.select(col("doc_id"), col("dhash"), col("whash"))))
      }
    }
}
