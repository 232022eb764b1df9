package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The PERSISTED MinHash-LSH index artifact — the storage-side design
  * that replaces [[DedupOps.minhashLshPairs]]' per-query
  * `localCheckpoint` at cluster scale (SCALE.md "LSH index" note): a
  * corpus pipeline computes the shingle→signature→band tables ONCE,
  * publishes them as bucketed tables, and every downstream consumer
  * (pair generation, clustering, keeper selection, recall scoreboards,
  * incremental re-dedup of new batches) joins against the stored
  * artifact instead of re-running the hash pipeline.
  *
  * Bucketing is the whole point:
  *   - the band table is bucketed on `(band_idx, band_key)` — exactly
  *     the candidate self-join's keys — so the join needs NO shuffle
  *     (LshIndexSpec pins the exchange-free plan);
  *   - the doc table is bucketed + sorted on `doc_id`, so both verify
  *     joins are shuffle-free on the index side too (LshIndexSpec pins
  *     no exchange above the `_docs` scan).
  * The band-row layout ([[Banding.bandRows]] / [[Banding.BandKeys]])
  * and the exact-Jaccard verify ([[Banding.jaccardPairs]]) are the ones
  * [[DedupOps.minhashLshPairs]] runs, so the index's pairs equal the
  * corpus-scan operator's by construction, not by kept-in-step copies.
  * At 100 TB this converts the dominant dedup cost (re-hashing the
  * corpus per query, then shuffling it per join) into a one-time build
  * plus exchange-free reads.
  */
object LshIndexOps {

  /** The signature/band frame (doc_id, sh, bk) — the data both persisted
    * tables derive from. Same hash family and band layout as
    * [[DedupOps.minhashLshPairs]], so pairs computed from the index are
    * identical to the single-pass operator's. `carry` columns (computed
    * from the input row) ride between `sh` and `bk`, so one
    * materialisation serves every later read of the batch.
    */
  private def indexFrame(docs: DataFrame, n: Int, k: Int, bands: Int, carry: Column*): DataFrame =
    docs
      .select(col("doc_id") +: array_sort(HashOps.shingleHashes(col("text"), n)).as("sh") +: carry: _*)
      .withColumn("bk", HashOps.bandKeys(HashOps.minhashSignature(col("sh"), k), bands, k / bands))

  /** An arriving batch materialised ONCE with everything its dedup,
    * verdict and appends read: (doc_id, sh, text_md5, n_tok, bk).
    */
  private def batchFrame(batch: DataFrame, n: Int, k: Int, bands: Int): DataFrame =
    indexFrame(batch, n, k, bands, metaCols: _*).localCheckpoint()

  /** A batch's verified matches against the stored index AND against
    * lower-id docs of the same batch, found by ONE candidate join and
    * ONE verify join over tagged unions (`src` 0 = stored rows, 1 =
    * batch rows) rather than two unioned pipelines. `storedPred` filters
    * stored candidates (it may read `x.doc_id` / `y.doc_id`). `src`
    * takes part in the candidate distinct, so a pair matched on both
    * sides (a replayed keeper, stored and in the batch) yields one row
    * per side. Returns (new_doc_id, dup_of, jaccard).
    */
  private def batchMatches(
      idx: DataFrame,
      storedBands: DataFrame,
      storedSets: DataFrame,
      storedPred: Column,
      threshold: Double,
  ): DataFrame = {
    val batchBands = Banding.bandRows(idx)
    val candidates = Banding.candidatePairs(
      batchBands,
      storedBands.withColumn("src", lit(0)).unionByName(batchBands.withColumn("src", lit(1))),
      Banding.BandKeys, "new_doc_id", "dup_of",
      docPred = Some(
        when(col("y.src") === 0, storedPred).otherwise(col("y.doc_id") < col("x.doc_id"))),
      carry = Seq("src"))
    val sets = storedSets.select(col("doc_id"), col("sh"), lit(0).as("src"))
      .unionByName(idx.select(col("doc_id"), col("sh"), lit(1).as("src")))
    Banding.jaccardPairs(candidates, idx, sets, threshold, "new_doc_id", "dup_of", Seq("src"))
  }

  /** Builds and publishes the two index tables:
    * `<prefix>_docs(doc_id, sh)` bucketed+sorted on doc_id, and
    * `<prefix>_bands(doc_id, band_idx, band_key)` bucketed on band_key.
    */
  def writeIndex(
      docs: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      buckets: Int,
      prefix: String,
  ): Unit = {
    IndexCatalog.dropLedger(docs.sparkSession, prefix)
    // Materialize before the two table writes — each saveAsTable is its
    // own action, and without this the full shingle→minhash→band
    // pipeline would execute twice per build.
    val idx = indexFrame(docs, n, k, bands).localCheckpoint()
    idx
      .select(col("doc_id"), col("sh"))
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_docs")
    Banding.bandRows(idx)
      .write.mode("overwrite")
      .bucketBy(buckets, Banding.BandKeys.head, Banding.BandKeys.tail: _*)
      .saveAsTable(s"${prefix}_bands")
  }

  /** Candidate pairs from the stored band table: a self-equi-join on
    * (band_idx, band_key) that reads the bucketed artifact on both
    * sides — no exchange, no recompute.
    */
  def candidatePairs(spark: SparkSession, prefix: String): DataFrame =
    Banding.candidateSelfPairs(IndexCatalog.readLive(spark, s"${prefix}_bands"), Banding.BandKeys)

  /** Verified near-dup pairs from the stored index: candidates from the
    * band table, exact-Jaccard verify ([[Banding.jaccardPairs]]) against
    * the stored shingle sets. Output is identical to
    * `DedupOps.minhashLshPairs(docs, …)` on the corpus the index was
    * built from (LshIndexSpec asserts equality).
    */
  def nearDupPairs(spark: SparkSession, prefix: String, threshold: Double): DataFrame = {
    val docs = IndexCatalog.readLive(spark, s"${prefix}_docs")
    Banding.jaccardPairs(candidatePairs(spark, prefix), docs, docs, threshold).orderBy("doc_a", "doc_b")
  }

  /** The skew STOP-KEY dial the health stats point at: band buckets
    * holding more than `maxBucket` members are excluded from candidate
    * generation entirely. Hot buckets are the quadratic term of LSH at
    * corpus scale — boilerplate-heavy corpora concentrate a large
    * fraction of documents into a few band keys, and one such key of
    * size s costs s·(s−1)/2 candidate verifications. The tradeoff is
    * explicit and bounded: a TRUE near-dup pair is missed only if
    * EVERY band it collides on is hot (with b bands the pair survives
    * unless all its collisions are capped), which is the standard
    * recall concession production dedup makes; the excluded keys are
    * exactly the ones `dd_index_stats` and [[IndexCatalog.LshIndex]]'s
    * `rebucketIfNeeded` surface.
    * Bucket sizing reads the stored band table grouped on its own
    * bucket keys — exchange-free on the stored side like the
    * candidate join itself.
    */
  def nearDupPairsCapped(
      spark: SparkSession,
      prefix: String,
      threshold: Double,
      maxBucket: Int,
  ): DataFrame = {
    val small = Banding.capSmallBuckets(
      IndexCatalog.readLive(spark, s"${prefix}_bands"), Banding.BandKeys, maxBucket)
    val docs = IndexCatalog.readLive(spark, s"${prefix}_docs")
    Banding.jaccardPairs(Banding.candidateSelfPairs(small, Banding.BandKeys), docs, docs, threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Persist the `<prefix>_meta` table — (doc_id, text_md5, n_tok),
    * the per-document metadata the upload-time admission gate probes:
    * the digest answers "is this EXACT text already held?" without
    * re-reading stored text, the token count carries the quality
    * floor. Bucketed+sorted on doc_id like `_docs`. Unlike the media
    * `_meta` there is no stored ex_keeper: the exact-dup keeper is
    * derived at probe time as min(stored doc_id per digest), so
    * incremental appends never need a relabel pass.
    */
  def writeMetaTable(docs: DataFrame, buckets: Int, prefix: String): Unit = {
    docs.select(col("doc_id") +: metaCols: _*)
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_meta")
    docs.sparkSession.catalog.refreshTable(s"${prefix}_meta")
  }

  /** The `_meta` columns beside doc_id, computed from `text`. */
  private def metaCols: Seq[Column] = Seq(
    md5(col("text")).as("text_md5"),
    size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
  )

  /** The UPLOAD-TIME admission verdict for TEXT — the per-arrival
    * decision a corpus pipeline makes before admitting a document,
    * entirely against the STORED artifacts (read-only; admitting
    * keepers is [[dedupBatchAndGrow]]'s job — the
    * `MediaIndexOps.uploadVerdict` discipline on the text index):
    * `exact_dup` when the arrival's text digest matches a stored item
    * (probe against `_meta` — dup_of = the lowest stored doc_id
    * holding it), `near_dup` when the banded probe against the stored
    * band table Jaccard-verifies a match (dup_of = the stored item at
    * the best (jaccard DESC, doc_id ASC) — a deterministic arg-max),
    * then the `too_short` token floor (a non-null token count under
    * `minTok`), else `keep`. Matches fold per doc_id: exact (kind 0)
    * before near (kind 1), then the highest Jaccard, then the smallest
    * stored id. Stored text is never re-read. One row per batch row,
    * sorted by doc_id.
    *
    * Two plans give the same rows:
    *   - BOUNDED (small uploads), on the shared key lookup
    *     ([[IndexCatalog.capped]], [[IndexCatalog.keyed]]): the raw
    *     batch is collected when it has at most `VerdictProbeRows` (256)
    *     rows and at most [[IndexCatalog.ProbeIdCap]] band keys (rows ×
    *     bands), then hashed on the driver — a local input (a
    *     `Seq.toDF`) costs no job for either step. One scan-only job
    *     reads the `_meta` rows holding a probe digest and the `_bands`
    *     rows holding a probe band key (a candidate must match the whole
    *     (band_idx, band_key) pair, checked on the driver); each task
    *     sends at most its share of the cap. A second job reads the
    *     candidates' shingle sets from `_docs`, bucket-pruned on doc_id,
    *     and verifies Jaccard where it reads them, so only matches reach
    *     the driver, which folds them into a local frame. The `_docs`
    *     read and the driver work grow with the probe; the `_meta` and
    *     `_bands` scans still grow with the index, since they are
    *     file-scanned in full with the IN filters pushed down (bucket
    *     pruning needs a single-column bucket key). The tables are read
    *     when this is called.
    *   - DISTRIBUTED: a batch over either cap, or one whose stored hits
    *     or candidate pairs exceed the cap (a hot band key, a digest
    *     many stored docs share), or whose doc_id is not a long, is
    *     materialised once; both match kinds fold into one arg-min over
    *     (kind, -jaccard, dup_of) and join back to the batch once; the
    *     bucketed band side never shuffles. This keeps large streaming
    *     micro-batches off the driver, the rule
    *     [[IndexCatalog.PresenceProbe]] follows.
    */
  def uploadVerdict(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
      minTok: Long,
  ): DataFrame =
    uploadVerdict(spark, prefix, batch, n, k, bands, threshold, minTok, IndexCatalog.ProbeIdCap)

  /** [[uploadVerdict]] with its bounded-path cap: the most probe band
    * keys, stored hits and candidate pairs the driver takes. A negative
    * cap forces the distributed plan (the specs' seam).
    */
  private[graft] def uploadVerdict(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
      minTok: Long,
      cap: Int,
  ): DataFrame = {
    // The path is chosen on the raw input, before anything is hashed.
    val input = batch.select(col("doc_id"), col("text"))
    val maxRows = math.min(cap / bands, VerdictProbeRows)
    val local =
      if (cap < 0 || input.schema("doc_id").dataType != LongType) None
      else IndexCatalog.capped(input, maxRows)
    local
      .flatMap { rows =>
        val probe = spark.createDataFrame(java.util.Arrays.asList(rows: _*), input.schema)
        boundedVerdict(spark, prefix, probe, n, k, bands, threshold, minTok, cap)
      }
      .getOrElse(
        distributedVerdict(spark, prefix, batchFrame(batch, n, k, bands), threshold, minTok))
  }

  /** The most probe rows the bounded [[uploadVerdict]] takes, set
    * below the measured crossover with the distributed plan (local[4]
    * on 4 vCPUs, a local input, Bands 8, 4 buckets, medians of 7). On a
    * 20,000-doc index the bounded path took 0.44 / 0.50 / 0.74 / 0.91 /
    * 1.45 s at 4 / 100 / 300 / 500 / 1,000 rows against the distributed
    * 1.01 / 0.79 / 0.78 / 0.91 / 0.84 s; on an 80,000-doc index 0.39 /
    * 0.54 / 0.70 s at 4 / 100 / 256 rows against 1.00 / 0.87 / 0.84 s.
    * Past ~300 rows the band-key IN list and the driver-side hashing
    * cost more than the distributed plan's fixed jobs.
    */
  private[graft] val VerdictProbeRows = 256

  /** The bounded [[uploadVerdict]] over a local probe frame, or None
    * when its stored hits or candidate pairs exceed `cap`.
    */
  private def boundedVerdict(
      spark: SparkSession,
      prefix: String,
      local: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
      minTok: Long,
      cap: Int,
  ): Option[DataFrame] = {
    // (doc_id, sh, text_md5, n_tok, bk); hashing a local frame runs no job.
    val probe = indexFrame(local, n, k, bands, metaCols: _*).collect()
    val digests = probe.toSeq.filterNot(_.isNullAt(2)).map(_.getString(2)).distinct
    val keys = probe.toSeq.flatMap(_.getSeq[String](4)).distinct
    // Digest hits carry band_idx -1; band hits their own band_idx.
    def scan = IndexCatalog.keyed(spark, s"${prefix}_meta", "text_md5", digests)
      .select(col("doc_id"), lit(-1).as("band_idx"), col("text_md5").as("key"))
      .unionByName(
        IndexCatalog.keyed(spark, s"${prefix}_bands", "band_key", keys)
          .select(col("doc_id"), col("band_idx"), col("band_key").as("key")))
    val hits =
      if (probe.isEmpty) Array.empty[Row]
      else IndexCatalog.capped(scan, cap) match {
        case Some(rows) => rows
        case None => return None
      }
    val (digestHits, bandHits) = hits.partition(_.getInt(1) < 0)
    val exactOf = digestHits.groupMapReduce(_.getString(2))(_.getLong(0))(math.min)
    val byBand = bandHits.groupMap(r => (r.getInt(1), r.getString(2)))(_.getLong(0))
    // A null doc_id never matches (the distributed plan's equi-joins).
    val byId = probe.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
    // Candidate pairs, keyed by the stored id: dup_of -> new doc_ids.
    val pairs = byId.toSeq
      .flatMap { case (id, rs) =>
        rs.flatMap(_.getSeq[String](4).zipWithIndex.flatMap { case (key, i) =>
          byBand.getOrElse((i, key), Array.empty[Long])
        }).distinct.map(_ -> id)
      }
      .groupMap(_._1)(_._2)
    if (pairs.valuesIterator.map(_.size).sum > cap) return None
    val sets = byId.map { case (id, rs) =>
      id -> rs.filterNot(_.isNullAt(1)).map(_.getSeq[Long](1).toArray)
    }
    val near = storedJaccard(spark, prefix, pairs, sets, threshold)
      .groupMapReduce(_._1)(m => (m._3, m._2)) { (x, y) =>
        if (x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)) x else y
      }
    val best: Map[Long, (String, Long)] = byId.flatMap { case (id, rs) =>
      val exact = rs.filterNot(_.isNullAt(2)).flatMap(r => exactOf.get(r.getString(2)))
      if (exact.nonEmpty) Some(id -> ("exact_dup", exact.min))
      else near.get(id).map { case (_, dupOf) => id -> ("near_dup", dupOf) }
    }
    val out = probe.map { r =>
      val id = if (r.isNullAt(0)) None else Some(r.getLong(0))
      id.flatMap(best.get) match {
        case Some((status, dupOf)) => Row(id.get, status, dupOf)
        case None =>
          val short = !r.isNullAt(3) && r.getLong(3) < minTok
          Row(id.map(Long.box).orNull, if (short) "too_short" else "keep", null)
      }
    }.sortBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    Some(spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      StructField("doc_id", LongType, local.schema("doc_id").nullable),
      StructField("status", StringType, nullable = false),
      StructField("dup_of", LongType, nullable = true)))))
  }

  /** (new_doc_id, dup_of, jaccard) of the candidate `pairs` (dup_of ->
    * new doc_ids) at or above `threshold`, verified where `_docs` is
    * read (bucket-pruned on the candidate ids), so stored shingle sets
    * never reach the driver. `sets` holds each new doc_id's shingle
    * sets; the Jaccard is the distributed plan's formula.
    */
  private def storedJaccard(
      spark: SparkSession,
      prefix: String,
      pairs: Map[Long, Seq[Long]],
      sets: Map[Long, Array[Array[Long]]],
      threshold: Double,
  ): Array[(Long, Long, Double)] =
    if (pairs.isEmpty) Array.empty
    else
      IndexCatalog.keyed(spark, s"${prefix}_docs", "doc_id", pairs.keys.toSeq)
        .filter(col("sh").isNotNull)
        .select(col("doc_id"), col("sh"))
        .mapPartitions { (rows: Iterator[Row]) =>
          rows.flatMap { r =>
            val dupOf = r.getLong(0)
            val b = ArrayData.toArrayData(r.getSeq[Long](1).toArray)
            for {
              id <- pairs.getOrElse(dupOf, Nil).iterator
              sh <- sets(id).iterator
              a = ArrayData.toArrayData(sh)
              c = graft.expressions.SortedIntersectCount.count(a, b)
              jaccard = c.toDouble / (a.numElements() + b.numElements() - c)
              if jaccard >= threshold
            } yield (id, dupOf, jaccard)
          }
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
        .collect()

  /** The distributed [[uploadVerdict]] over a materialised batch frame. */
  private def distributedVerdict(
      spark: SparkSession,
      prefix: String,
      bm: DataFrame,
      threshold: Double,
      minTok: Long,
  ): DataFrame = {
    val exact = bm
      .join(
        IndexCatalog.readLive(spark, s"${prefix}_meta")
          .select(col("text_md5"), col("doc_id").as("dup_of")),
        Seq("text_md5"))
      .select(col("doc_id"), lit(0).as("kind"), lit(0.0).as("nj"), col("dup_of"))
    val near = storedMatches(spark, prefix, bm, threshold)
      .select(col("new_doc_id").as("doc_id"), lit(1).as("kind"), (-col("jaccard")).as("nj"), col("dup_of"))
    val best = exact.unionByName(near)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("kind"), col("nj"), col("dup_of"))).as("m"))
    bm.join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("m.kind") === 0, lit("exact_dup"))
          .when(col("m.kind") === 1, lit("near_dup"))
          .when(col("n_tok") < minTok, lit("too_short"))
          .otherwise(lit("keep")).as("status"),
        col("m.dup_of").as("dup_of"),
      )
      .orderBy("doc_id")
  }

  /** Persist the cluster assignment next to the index — label-prop
    * connected components over pairs read FROM the just-written band
    * table (clustering never re-shingles a document), bucketed+sorted
    * on doc_id like `_docs` so downstream reads are bucket scans. The
    * nightly-refresh artifact [[clustersFromIndex]] serves;
    * [[ingestBatchAndMaintain]] keeps it fresh between rebuilds.
    */
  def writeClusters(
      spark: SparkSession,
      prefix: String,
      threshold: Double,
      buckets: Int,
  ): Unit = {
    DedupOps
      .connectedComponents(
        nearDupPairs(spark, prefix, threshold).select(col("doc_a"), col("doc_b")))
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_clusters")
    spark.catalog.refreshTable(s"${prefix}_clusters")
  }

  /** The persisted cluster assignment as a read face — label-prop ran
    * once at build time (or incrementally via
    * [[ingestBatchAndMaintain]]); a read costs a bucket scan.
    * Identical to `DedupOps.connectedComponents` over the corpus-scan
    * pairs (the registry faces share the oracle).
    */
  def clustersFromIndex(spark: SparkSession, prefix: String): DataFrame =
    IndexCatalog.readLive(spark, s"${prefix}_clusters").orderBy("doc_id")

  /** GROW-EVERYTHING ingest + cluster maintenance — the text twin of
    * `MediaIndexOps.ingestBatchAndMaintain` (the archive shape: dups
    * are ADMITTED, the maintained cluster assignment names them for
    * curation, vs [[dedupBatchAndGrow]]'s reject gate): every batch
    * doc is appended to `_docs`/`_bands` under the intent/commit
    * ledger, and the batch's Jaccard-verified pairs (vs the stored
    * corpus + within-batch) merge into the persisted `_clusters` by
    * [[DedupOps.growPersistedClusters]]' touched-component label-prop
    * — so the cluster read face stays fresh between wholesale rebuilds
    * without re-shingling or re-clustering the corpus. Pair generation
    * excludes the batch's own ids from the stored side (immune to a
    * prior partial append) and the merge is idempotent, so a crashed
    * replay converges (LshIndexSpec asserts bit-equality to a
    * from-scratch rebuild after N batches and replay as a no-op).
    */
  def ingestBatchAndMaintain(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
  ): Unit = {
    val idx = batchFrame(batch, n, k, bands)
    val batchIds = idx.select(col("doc_id")).distinct().localCheckpoint()
    def stored(table: String): DataFrame =
      spark.table(s"${prefix}_$table").join(batchIds, Seq("doc_id"), "left_anti")
    val pairs = batchMatches(idx, stored("bands"), stored("docs"), lit(true), threshold)
      .select(
        least(col("new_doc_id"), col("dup_of")).as("doc_a"),
        greatest(col("new_doc_id"), col("dup_of")).as("doc_b"))
      .distinct()
      .localCheckpoint()
    // The merge runs BEFORE the ledgered appends: it is idempotent and
    // its inputs never read un-excluded batch state, so any crash
    // point replays cleanly. Recover a swap that crashed between its
    // renames first — otherwise the exists guard would misread the
    // dangling `_old` state as "no cluster artifact" and silently skip
    // the merge while still committing the batch.
    IndexCatalog.recoverDangling(spark, s"${prefix}_clusters")
    if (spark.catalog.tableExists(s"${prefix}_clusters"))
      DedupOps.growPersistedClusters(spark, s"${prefix}_clusters", pairs)
    val (newRows, key) = IndexCatalog.checkpointKeyed(idx
      .join(spark.table(s"${prefix}_docs").select("doc_id"), Seq("doc_id"), "left_anti"))
    appendKeepers(spark, prefix, newRows, key, crashAfter = "")
  }

  /** Incremental dedup — the reason a pipeline PERSISTS the index: new
    * documents are checked against the existing corpus by joining the
    * batch's band keys against the stored band table (bucketed side
    * never shuffles), without touching stored documents' text at all.
    * Returns (new_doc_id, dup_of, jaccard) for batch docs that are
    * near-dups of an indexed doc.
    */
  def dedupAgainstIndex(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
  ): DataFrame =
    storedMatches(spark, prefix, indexFrame(batch, n, k, bands).localCheckpoint(), threshold)
      .orderBy("new_doc_id", "dup_of")

  /** [[dedupAgainstIndex]] over an already-materialised index frame. */
  private def storedMatches(
      spark: SparkSession,
      prefix: String,
      idx: DataFrame,
      threshold: Double,
  ): DataFrame =
    Banding.jaccardPairs(
      Banding.candidatePairs(
        Banding.bandRows(idx), IndexCatalog.readLive(spark, s"${prefix}_bands"),
        Banding.BandKeys, "new_doc_id", "dup_of"),
      idx,
      IndexCatalog.readLive(spark, s"${prefix}_docs"),
      threshold, "new_doc_id", "dup_of")

  /** [[IndexCatalog.LshIndex]]'s layout stats, by the name perfbench's
    * `DocDedupStream` reads them.
    */
  def fileStats(spark: SparkSession, prefix: String): DataFrame =
    IndexCatalog.LshIndex.fileStats(spark, prefix)

  /** One micro-batch of the STREAMING dedup: returns the batch's
    * near-dup rows `(new_doc_id, dup_of, jaccard)` and GROWS the index
    * with the batch's kept (non-dup, not-already-indexed) docs, so later
    * batches dedup against everything that arrived before them.
    *
    * Match rule (the greedy keeper discipline a continuously-ingesting
    * pipeline runs): a batch doc is a dup if its band keys collide with
    * (a) any INDEXED doc, or (b) any lower-doc_id doc of the SAME batch
    * — verified at `threshold` either way. Within a batch the lower-id
    * match counts even if that doc is itself a dup (transitive chains
    * collapse greedily); across batches only kept docs are matchable,
    * because the index stores only keepers. Replay-safe on the index:
    * kept docs are anti-joined against the stored doc table before the
    * append, so a replayed batch never double-inserts (the RETURNED dup
    * rows are at-least-once, like every micro-batch emission — pair
    * with the K1 batch_id-partition pattern for an idempotent sink).
    *
    * Order of operations matters and is pinned by localCheckpoints: the
    * dup frame is MATERIALIZED before the append mutates the tables it
    * reads — a lazy plan would see the batch's own rows in the stored
    * bands and flag everything as its own duplicate.
    *
    * Per micro-batch the batch is hashed and materialised once (with
    * its meta columns), stored and within-batch matches come from one
    * candidate join and one verify join ([[batchMatches]]), and
    * [[appendKeepers]] overlaps the bands and meta appends (SCALE.md
    * gives the job count). Appends follow the tables' live bucket spec
    * (see [[IndexCatalog.Family.rebucket]]).
    */
  def dedupBatchAndGrow(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
      crashAfter: String = "",
  ): DataFrame = {
    val idx = batchFrame(batch, n, k, bands)
    val docs = spark.table(s"${prefix}_docs")
    val dups = batchMatches(
      idx, spark.table(s"${prefix}_bands"), docs,
      // A replayed batch (failure after the append committed but
      // before the streaming checkpoint) finds its own keepers in
      // the stored bands; without this guard each collides with
      // itself and comes back as a false (doc, doc, 1.0) dup row.
      col("x.doc_id") =!= col("y.doc_id"),
      threshold,
    ).localCheckpoint()
    val (kept, key) = IndexCatalog.checkpointKeyed(idx
      .join(dups.select(col("new_doc_id").as("doc_id")), Seq("doc_id"), "left_anti")
      .join(docs.select("doc_id"), Seq("doc_id"), "left_anti"))
    appendKeepers(spark, prefix, kept, key, crashAfter)
    dups
  }

  /** Appends the batch's keepers to the index tables, crash-repairably
    * ([[IndexCatalog.ledgeredAppends]], keyed by the min kept doc_id),
    * and their `(doc_id, text_md5, n_tok)` rows to `_meta` when the
    * prefix carries it (the MediaIndexOps meta-maintenance discipline:
    * the upload-time digest probe then sees incrementally-admitted
    * documents, so an exact copy replayed later is labeled `exact_dup`
    * — not `near_dup` at jaccard 1).
    *
    * Bands ‖ meta, then docs. Docs is the membership table
    * [[dedupBatchAndGrow]]'s `kept` anti-join reads, so its append is
    * the batch's doc-level commit marker: a replay of a crash before
    * docs recomputes the identical kept set (keepers never verify
    * against each other, so their own bands in the store add no dup
    * rows — the self-collision guard covers exact replays), while a
    * docs-first order made a crash between UNREPAIRABLE: the keepers
    * vanished from `kept` with their bands never written, silently
    * missing every future duplicate of them. A crash before docs can
    * leave any subset of {bands, meta} landed, and the repair
    * re-appends exactly the missing ones.
    *
    * `crashAfter` is the spec's fault-injection seam, named by what
    * lands before the injected crash: "bands" (bands only), "meta-only"
    * (meta only), "meta" (bands and meta).
    */
  private def appendKeepers(
      spark: SparkSession,
      prefix: String,
      kept: DataFrame,
      batchKey: Option[Long],
      crashAfter: String,
  ): Unit =
    // An empty batch needs no ledger entry.
    batchKey.foreach { key =>
      IndexCatalog.ledgeredAppends(spark, prefix, key, kept) { append =>
        val bands = new IndexCatalog.Append("bands", Banding.bandRows(kept))
        val meta =
          new IndexCatalog.Append("meta", kept.select(col("doc_id"), col("text_md5"), col("n_tok")))
        val withMeta = spark.catalog.tableExists(s"${prefix}_meta")
        append(
          Seq(bands).filter(_ => crashAfter != "meta-only") ++
            Seq(meta).filter(_ => withMeta && crashAfter != "bands"): _*)
        if (crashAfter.nonEmpty)
          throw new IllegalStateException(s"injected crash after $crashAfter append")
        append(new IndexCatalog.Append("docs", kept.select(col("doc_id"), col("sh"))))
      }
    }

  /** Continuous ingestion dedup — the streaming face of the persisted
    * index: every micro-batch of the `docs` stream (doc_id, text) is
    * deduped by [[dedupBatchAndGrow]] and its near-dup rows handed to
    * `onDups` (write to a sink, quarantine, metric — caller's choice).
    * The index artifact is the stream's STATE, stored as bucketed
    * tables rather than in a state store: restarts recover it for free,
    * batch consumers ([[nearDupPairs]] etc.) read the same artifact
    * concurrently, and state size scales with the warehouse, not
    * executor memory. `buckets` is unused (appends follow the tables'
    * live bucket spec); it stays because callers pass it by position.
    */
  def streamingDedup(
      spark: SparkSession,
      prefix: String,
      docs: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      buckets: Int,
      threshold: Double,
      checkpoint: String,
      onDups: (DataFrame, Long) => Unit,
  ): org.apache.spark.sql.streaming.StreamingQuery =
    IndexCatalog.stream(docs, checkpoint)((batch, id) =>
      onDups(dedupBatchAndGrow(spark, prefix, batch, n, k, bands, threshold), id))
}
