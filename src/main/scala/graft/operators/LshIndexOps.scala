package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

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
    *   - BOUNDED (small uploads): a batch of at most `VerdictProbeRows`
    *     (256) rows and at most [[IndexCatalog.ProbeIdCap]] band keys
    *     (rows × bands) is hashed and collected ([[hashedProbe]]; a
    *     local input, such as a `Seq.toDF`, folds into its
    *     `LocalRelation` and runs no job), then matched by the bounded
    *     matcher the ingest wave shares ([[boundedMatches]]): one
    *     scan-only job reads the `_meta` rows holding a probe digest and
    *     the `_bands` rows holding a probe (band_idx, band_key) pair, and
    *     a second reads the candidates' shingle sets from `_docs`,
    *     bucket-pruned on doc_id, and verifies Jaccard where it reads
    *     them, so only matches reach the driver, which folds them into a
    *     local frame. The `_docs` read and the driver work grow with the
    *     probe; the `_meta` and `_bands` scans still grow with the index,
    *     since they are file-scanned in full (bucket pruning needs a
    *     single-column bucket key). The tables are read when this is
    *     called.
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
  ): DataFrame =
    hashedProbe(batch, n, k, bands, cap)
      .flatMap { case (probe, schema) =>
        boundedVerdict(spark, prefix, probe, schema("doc_id").nullable, threshold, minTok, cap)
      }
      .getOrElse(
        distributedVerdict(spark, prefix, batchFrame(batch, n, k, bands), threshold, minTok))

  /** The most probe rows the bounded [[uploadVerdict]] and the bounded
    * [[dedupBatchAndGrow]] wave take: one constant, set below the
    * lower of their measured crossovers with the distributed plans
    * (local[4] on 4 vCPUs, Bands 8, 4 buckets).
    *   - Verdict (a local input, medians of 7, measured when the band
    *     keys were a pushed-down IN list and the batch was hashed on the
    *     driver): on a 20,000-doc index the bounded path took 0.44 /
    *     0.50 / 0.74 / 0.91 / 1.45 s at 4 / 100 / 300 / 500 / 1,000 rows
    *     against the distributed 1.01 / 0.79 / 0.78 / 0.91 / 0.84 s; on
    *     an 80,000-doc index 0.39 / 0.54 / 0.70 s at 4 / 100 / 256 rows
    *     against 1.00 / 0.87 / 0.84 s. The crossover was ~300 rows.
    *   - Wave (`dedupBatchAndGrow` with its appends, a 4-partition
    *     non-local batch, 25% near or exact copies of stored docs, the
    *     two paths alternating, medians of 5, the limit raised for the
    *     run): from a 20,000-doc index grown to 28,126 over the run, the
    *     bounded path took 986 / 978 / 885 / 910 ms at 100 / 200 / 256 /
    *     400 rows against the distributed 1,361 / 1,243 / 1,097 /
    *     1,083 ms; from a fresh 20,000-doc index, 1,260 / 1,383 ms at
    *     700 / 1,000 rows against 1,501 / 1,451 ms. The crossover is
    *     near 1,000 rows.
    */
  private[graft] val VerdictProbeRows = 256

  /** `batch` hashed as [[batchFrame]] lays it out — (doc_id, sh,
    * text_md5, n_tok, bk) — and collected with that schema, or None
    * when `cap` is negative, the doc_id is not a long, or the batch has
    * more than `VerdictProbeRows` rows or more than `cap` band keys.
    * One [[IndexCatalog.capped]] collect: a local input runs no job,
    * any other one job in which each task hashes at most its share of
    * the rows plus one.
    */
  private def hashedProbe(
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      cap: Int,
  ): Option[(Array[Row], StructType)] = {
    val hashed = indexFrame(batch, n, k, bands, metaCols: _*)
    if (cap < 0 || batch.schema("doc_id").dataType != LongType) None
    else IndexCatalog.capped(hashed, math.min(cap / bands, VerdictProbeRows)).map(_ -> hashed.schema)
  }

  /** The bounded [[uploadVerdict]] over a hashed probe, or None when its
    * stored hits or candidate pairs exceed `cap`.
    */
  private def boundedVerdict(
      spark: SparkSession,
      prefix: String,
      probe: Array[Row],
      idNullable: Boolean,
      threshold: Double,
      minTok: Long,
      cap: Int,
  ): Option[DataFrame] = {
    val digests = probe.toSeq.filterNot(_.isNullAt(2)).map(_.getString(2)).distinct
    boundedMatches(spark, prefix, probe, ("_meta", "text_md5", digests), threshold, cap, wave = false)
      .map { case (digestHits, matches) =>
        val exactOf = digestHits.groupMapReduce(_.getString(2))(_.getLong(0))(math.min)
        val near = matches
          .groupMapReduce(_._1)(m => (m._3, m._2)) { (x, y) =>
            if (x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)) x else y
          }
        val best: Map[Long, (String, Long)] = probe.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
          .flatMap { case (id, rs) =>
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
        spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
          StructField("doc_id", LongType, idNullable),
          StructField("status", StringType, nullable = false),
          StructField("dup_of", LongType, nullable = true))))
      }
  }

  /** The bounded matcher [[boundedVerdict]] and the bounded
    * [[dedupBatchAndGrow]] wave share, over a hashed probe
    * ([[hashedProbe]]'s rows): the probe's verified matches against the
    * stored index, (new_doc_id, dup_of, jaccard) one row per pair of
    * shingle sets at or above `threshold` (the distributed plans'
    * multiset), with the `side` lookup's hits (doc_id, -1, key). None
    * when the stored hits or candidate pairs exceed `cap`.
    *
    * One scan-only job reads the `side` rows — `<prefix><table>` rows
    * whose `column` is one of its keys, through [[IndexCatalog.keyed]]
    * — and the `_bands` rows holding one of the probe's (band_idx,
    * band_key) pairs, tested inside the scan task: the ~1,600 keys of a
    * 200-doc wave pushed into the parquet reader as an IN list cost more
    * than the scan (see [[IndexCatalog.keyed]]). Each task sends at most
    * its share of `cap` ([[IndexCatalog.capped]]). A second job reads
    * the stored candidates' shingle sets and verifies them there
    * ([[storedJaccard]]); none runs without stored candidates.
    *
    * A candidate is a probe doc and a stored doc that share a (band_idx,
    * band_key) pair; a null doc_id never matches. With `wave`, a
    * stored doc never matches a probe doc of its own id (a replayed
    * keeper finds itself stored), and each probe doc also matches every
    * lower-id probe doc it shares a pair with, verified on the driver.
    */
  private def boundedMatches(
      spark: SparkSession,
      prefix: String,
      probe: Array[Row],
      side: (String, String, Seq[Any]),
      threshold: Double,
      cap: Int,
      wave: Boolean,
  ): Option[(Array[Row], Seq[(Long, Long, Double)])] = {
    def pairsOf(r: Row): Seq[(Int, String)] = r.getSeq[String](4).zipWithIndex.map(_.swap)
    val keys = probe.iterator.flatMap(pairsOf).toSet
    val (table, column, sideKeys) = side
    def scan = IndexCatalog.keyed(spark, prefix + table, column, sideKeys)
      .select(col("doc_id"), lit(-1).as("band_idx"), col(column).cast(StringType).as("key"))
      .unionByName(IndexCatalog.readLive(spark, s"${prefix}_bands")
        .select(col("doc_id"), col("band_idx"), col("band_key").as("key")))
    val hits =
      if (probe.isEmpty) Array.empty[Row]
      else IndexCatalog.capped(scan, cap, r => r.getInt(1) < 0 || keys((r.getInt(1), r.getString(2)))) match {
        case Some(rows) => rows
        case None => return None
      }
    val (sideHits, bandHits) = hits.partition(_.getInt(1) < 0)
    val byId = probe.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
    // Candidate pairs keyed by the matched id: dup_of -> new doc_ids.
    def candidates(byPair: Map[(Int, String), Seq[Long]], keep: (Long, Long) => Boolean) =
      byId.toSeq
        .flatMap { case (id, rs) =>
          rs.flatMap(pairsOf).flatMap(byPair.getOrElse(_, Nil)).distinct.filter(keep(id, _)).map(_ -> id)
        }
        .groupMap(_._1)(_._2)
    val stored = candidates(
      bandHits.toSeq.groupMap(r => (r.getInt(1), r.getString(2)))(_.getLong(0)),
      (id, dupOf) => !wave || dupOf != id)
    val within =
      if (!wave) Map.empty[Long, Seq[Long]]
      else candidates(
        byId.toSeq.flatMap { case (id, rs) => rs.flatMap(pairsOf).map(_ -> id) }.groupMap(_._1)(_._2),
        (id, dupOf) => dupOf < id)
    if ((stored.valuesIterator ++ within.valuesIterator).map(_.size).sum > cap) return None
    val sets = byId.map { case (id, rs) =>
      id -> rs.filterNot(_.isNullAt(1)).map(_.getSeq[Long](1).toArray)
    }
    val inBatch = for {
      (dupOf, ids) <- within.toSeq
      id <- ids
      a <- sets(id).toSeq
      b <- sets(dupOf).toSeq
      j = jaccard(a, b)
      if j >= threshold
    } yield (id, dupOf, j)
    Some((sideHits, storedJaccard(spark, prefix, stored, sets, threshold).toSeq ++ inBatch))
  }

  /** Exact Jaccard of two sorted distinct shingle-hash arrays, by
    * [[Banding.jaccard]]'s formula.
    */
  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val c = graft.expressions.SortedIntersectCount.count(
      ArrayData.toArrayData(a), ArrayData.toArrayData(b))
    c.toDouble / (a.length + b.length - c)
  }

  /** (new_doc_id, dup_of, jaccard) of the candidate `pairs` (dup_of ->
    * new doc_ids) at or above `threshold`, verified where `_docs` is
    * read (bucket-pruned on the candidate ids), so stored shingle sets
    * never reach the driver. `sets` holds each new doc_id's shingle
    * sets.
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
            val b = r.getSeq[Long](1).toArray
            for {
              id <- pairs.getOrElse(dupOf, Nil).iterator
              a <- sets(id).iterator
              j = jaccard(a, b)
              if j >= threshold
            } yield (id, dupOf, j)
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
    * Order of operations matters: the dup rows are MATERIALIZED before
    * the append mutates the tables they read — a lazy plan would see the
    * batch's own rows in the stored bands and flag everything as its own
    * duplicate.
    *
    * Two plans give the same dup rows and the same appends, as the
    * upload verdict has:
    *   - BOUNDED (a micro-batch of at most `VerdictProbeRows` rows with a
    *     long doc_id): the batch is hashed and collected in one job
    *     ([[hashedProbe]]), and the bounded matcher ([[boundedMatches]])
    *     reads the stored index in two scan-only jobs, the `_bands` rows
    *     holding a probe band key together with the batch ids already
    *     in `_docs`, then the stored candidates' verify. Within-batch
    *     matches, the kept rows and the dup rows are built on the
    *     driver; the dup rows come back as a local frame, and the kept
    *     rows are appended from one task each, so an append adds at most
    *     one file per bucket. No stored table is shuffled.
    *   - DISTRIBUTED (a larger batch, one whose hits or candidate pairs
    *     exceed [[IndexCatalog.ProbeIdCap]], or a non-long doc_id): the
    *     batch is hashed and materialised once (with its meta columns),
    *     stored and within-batch matches come from one candidate join
    *     and one verify join ([[batchMatches]]), which shuffle the stored
    *     `_bands` and `_docs`, and the keepers are checkpointed.
    * [[appendKeepers]] then overlaps the bands and meta appends (SCALE.md
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
  ): DataFrame =
    dedupBatchAndGrow(spark, prefix, batch, n, k, bands, threshold, crashAfter, IndexCatalog.ProbeIdCap)

  /** [[dedupBatchAndGrow]] with its bounded-path cap, as the verdict's:
    * the most band keys, stored hits and candidate pairs the driver
    * takes. A negative cap forces the distributed plan (the specs'
    * seam).
    */
  private[graft] def dedupBatchAndGrow(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
      crashAfter: String,
      cap: Int,
  ): DataFrame =
    hashedProbe(batch, n, k, bands, cap)
      .flatMap { case (probe, schema) => boundedWave(spark, prefix, probe, schema, threshold, crashAfter, cap) }
      .getOrElse(distributedWave(spark, prefix, batch, n, k, bands, threshold, crashAfter))

  /** The bounded [[dedupBatchAndGrow]] over a hashed batch, or None when
    * its stored hits or candidate pairs exceed `cap`. Kept are the batch
    * rows that neither match nor carry an id already in `_docs` (a row
    * of a null id is kept, as the distributed plan's anti-joins keep
    * it).
    */
  private def boundedWave(
      spark: SparkSession,
      prefix: String,
      probe: Array[Row],
      schema: StructType,
      threshold: Double,
      crashAfter: String,
      cap: Int,
  ): Option[DataFrame] = {
    val ids = probe.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSeq.distinct
    boundedMatches(spark, prefix, probe, ("_docs", "doc_id", ids), threshold, cap, wave = true)
      .map { case (present, dups) =>
        val out = dups.map(_._1).toSet ++ present.map(_.getLong(0))
        val kept = probe.filter(r => r.isNullAt(0) || !out(r.getLong(0)))
        // One task per append: a local frame's scan runs one task per
        // core, and each task would add its own file to every bucket.
        val keptRows = spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema).coalesce(1)
        val key = kept.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).minOption
        appendKeepers(spark, prefix, keptRows, key, crashAfter)
        spark.createDataFrame(
          java.util.Arrays.asList(dups.map { case (id, dupOf, j) => Row(id, dupOf, j) }: _*),
          StructType(Seq(
            StructField("new_doc_id", LongType, schema("doc_id").nullable),
            StructField("dup_of", LongType, nullable = true),
            StructField("jaccard", DoubleType, nullable = true))))
      }
  }

  /** The distributed [[dedupBatchAndGrow]]. */
  private def distributedWave(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
      crashAfter: String,
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
