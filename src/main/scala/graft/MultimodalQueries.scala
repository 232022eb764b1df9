package graft

import graft.operators.MultimodalOps
import Tables.documents
import org.apache.spark.sql.functions._

/** Multimodal-column queries (SURVEY.md §7.2 M4): binary payloads with
  * typed metadata, a REAL image-header decode stage (PNG IHDR / JPEG
  * SOF0 fields parsed out of actual container bytes written by
  * `MultimodalOps.encodeMedia`), and frame sampling. The typed
  * mapPartitions pipeline behind these is `MultimodalOps.decodeAll`
  * (general chunk-walk/marker-scan parsers), asserted equal to the
  * declarative twin in the ScalaTest spec; the oracle independently
  * predicts the dimensions the headers carry, so a parse that misreads
  * any byte hash-mismatches.
  */
object MultimodalQueries {

  /** The full-corpus media fingerprint index of one modality, a shared
    * [[Tables.artifact]] per modality. Every index READ face
    * (`mm_index_pairs*`, `mm_index_stats`, `mm_index_frame_match`,
    * `mm_index_consensus*`) serves from it — at 100× scale the plan you
    * want reads a PERSISTED index, and rebuilding one inside a timed
    * query misrepresents that plan's cost. The deliberately-incremental
    * faces (`mm_index_incremental`, the streaming ingest smokes) keep
    * building their own: their build IS the test.
    */
  private[graft] def fullMediaIndex(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      mediaType: String,
  ): String =
    Tables.artifact(s, "media", s"full_$mediaType", d) { pre =>
      val media = MultimodalOps.encodeMedia(documents(s, d))
      graft.operators.MediaIndexOps.writeIndex(
        media, regions = 49, blockBands = 6, buckets = 8, prefix = pre,
        mediaType = mediaType)
      // The curation artifacts ride the same build cadence: meta from
      // ONE decoded scan, clusters from pairs read off the just-written
      // chunk table — the nightly-refresh shape the verdict read faces
      // (`mm_index_curation*`) serve from.
      graft.operators.MediaIndexOps.writeCurationArtifacts(
        s, media, maxHamming = 5, buckets = 8, prefix = pre, mediaType = mediaType)
    }

  /** The STORED-SPLIT index + meta (stored corpus = doc_id % 5 ≠ 0) the
    * upload-verdict faces probe — a shared artifact per modality, so
    * `mm_index_upload_verdict[/_audio/_video]` time exactly what an
    * admission gate costs per arrival at 100 TB: decode the batch,
    * digest-join the stored `_meta`, banded-probe the stored chunks —
    * never the stored-split index build itself.
    */
  private[graft] def splitMediaIndex(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      mediaType: String,
  ): String =
    Tables.artifact(s, "media", s"split_$mediaType", d) { pre =>
      val stored = MultimodalOps.encodeMedia(documents(s, d))
        .filter(col("doc_id") % 5 =!= 0)
      graft.operators.MediaIndexOps.writeIndex(
        stored, regions = 49, blockBands = 6, buckets = 8, prefix = pre,
        mediaType = mediaType)
      graft.operators.MediaIndexOps.writeMetaTable(
        stored, buckets = 8, prefix = pre, mediaType = mediaType)
    }

  /** The INCREMENTALLY-GROWN index of one modality: seeded from the
    * stored split (doc_id % 5 ≠ 0) with its full curation artifacts,
    * then the remaining fifth ingested through
    * [[graft.operators.MediaIndexOps.ingestBatchAndMaintain]] — the
    * grow-everything archive face whose touched-component label-prop
    * keeps `_meta`/`_clusters` (and, for image, `_cclusters`) fresh
    * between wholesale rebuilds. A shared artifact per modality; the
    * read faces over it share the FULL-CORPUS oracles,
    * so a drifted incremental merge (a missed pair, a stale keeper, an
    * unrelabeled ex_keeper) hash-mismatches against the from-scratch
    * truth — including video, the hardest case, whose pairs carry the
    * min-across-frames semantics through the incremental merge.
    */
  private[graft] def grownMediaIndex(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      mediaType: String = "image",
  ): String =
    Tables.artifact(s, "media", s"grown_$mediaType", d) { pre =>
      val media = MultimodalOps.encodeMedia(documents(s, d))
      val seed = media.filter(col("doc_id") % 5 =!= 0)
      graft.operators.MediaIndexOps.writeIndex(
        seed, regions = 49, blockBands = 6, buckets = 8, prefix = pre,
        mediaType = mediaType)
      graft.operators.MediaIndexOps.writeCurationArtifacts(
        s, seed, maxHamming = 5, buckets = 8, prefix = pre, mediaType = mediaType)
      graft.operators.MediaIndexOps.ingestBatchAndMaintain(
        s, pre, media.filter(col("doc_id") % 5 === 0),
        regions = 49, blockBands = 6, maxHamming = 5,
        mediaType = mediaType)
    }

  /** The cross-modal content-family assignment PERSISTED as an
    * artifact: pairs from the index×index sweep
    * ([[graft.operators.MediaIndexOps.frameMatchFromIndexes]] — both
    * sides stored chunk tables, nothing decoded), label-prop run ONCE
    * here, bucketed+sorted on doc_id like every cluster artifact. The
    * takedown/licensing read face (`mm_index_frame_match_clusters`)
    * is then a bucket scan; the corpus-scan face stays as the exact
    * reference (shared oracle).
    */
  private[graft] def frameMatchFamiliesTable(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): String =
    Tables.artifact(s, "media", "fmfam", d) { t =>
      graft.operators.DedupOps.connectedComponents(
        graft.operators.MediaIndexOps.frameMatchFromIndexes(
          s, fullMediaIndex(s, d, "image"), fullMediaIndex(s, d, "video"),
          maxHamming = 5)
          .select(col("image_id").as("doc_a"), col("video_id").as("doc_b")))
        .write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(t)
    }

  /** The INCREMENTALLY-GROWN cross-modal family assignment — the last
    * build-once artifact brought under the grow discipline: families
    * are SEEDED from the index×index sweep of the stored-split video
    * index (doc_id % 5 ≠ 0, label-prop run once at build), then the
    * remaining fifth of the videos arrives as a batch whose pairs
    * (fingerprinted once, matched against the STORED image index —
    * the arrival-time [[graft.operators.MediaIndexOps.frameMatchAgainstIndex]]
    * shape) merge into the persisted table by
    * [[graft.operators.DedupOps.growPersistedClusters]]' touched-component
    * label-prop. The read face shares the FULL-CORPUS recursive-closure
    * oracle, so a missed cross-batch family merge hash-mismatches the
    * from-scratch truth.
    */
  private[graft] def grownFrameMatchFamiliesTable(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): String =
    Tables.artifact(s, "media", "fmfamg", d) { t =>
      graft.operators.DedupOps.connectedComponents(
        graft.operators.MediaIndexOps.frameMatchFromIndexes(
          s, fullMediaIndex(s, d, "image"), splitMediaIndex(s, d, "video"),
          maxHamming = 5)
          .select(col("image_id").as("doc_a"), col("video_id").as("doc_b")))
        .write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(t)
      val arrivals = MultimodalOps.encodeMedia(documents(s, d))
        .filter(col("media_type") === "video" && col("doc_id") % 5 === 0)
      graft.operators.DedupOps.growPersistedClusters(
        s, t,
        graft.operators.MediaIndexOps.frameMatchAgainstIndex(
          s, fullMediaIndex(s, d, "image"), arrivals,
          regions = 49, blockBands = 6, maxHamming = 5)
          .select(col("image_id").as("doc_a"), col("video_id").as("doc_b")))
    }

  /** Eagerly builds the three shared per-modality fingerprint indexes
    * for `d` plus the three stored-split admission-gate artifacts, the
    * three incrementally-grown indexes, and the cross-modal family
    * assignment, static AND grown (no-op when already built) — called
    * from Bench's un-timed setup phase like the sim/tx twins, so a
    * one-time corpus build can never masquerade as an index READ's
    * steady-state cost.
    */
  def prepareSharedArtifacts(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    Seq("image", "audio", "video").foreach { m =>
      fullMediaIndex(s, d, m)
      splitMediaIndex(s, d, m)
      grownMediaIndex(s, d, m)
    }
    frameMatchFamiliesTable(s, d)
    grownFrameMatchFamiliesTable(s, d)
    ()
  }

  private val mediaSql =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  octet_length(encode(text)) AS n_bytes, text
      |FROM documents""".stripMargin

  /** The `encodeMedia` container layout, mirrored: image payloads gain
    * a 33-byte PNG or 39-byte JPEG/JFIF header (alternating by
    * doc_id//3 parity); video payloads gain the animated-GIF container
    * (13-byte header+LSD, 22 bytes per frame × n mod 16 + 1 frames,
    * 1-byte trailer); audio stays raw.
    */
  private val encodedMediaSql =
    s"""SELECT doc_id, media_type,
       |  CASE WHEN media_type = 'image'
       |       THEN (CASE WHEN (doc_id // 3) % 2 = 0 THEN 33 ELSE 39 END) + n_bytes
       |       WHEN media_type = 'video'
       |       THEN 14 + 22 * (n_bytes % 16 + 1) + n_bytes
       |       ELSE n_bytes END AS n_bytes,
       |  n_bytes AS content_bytes
       |FROM ($mediaSql)""".stripMargin

  /** The dHash fingerprint/chunk derivation as DuckDB CTEs (mirror of
    * `MultimodalOps.nearDupPairs` / `MediaIndexOps.fpFrame` over
    * encodeMedia payloads): decoded content = the raw text for image
    * rows; 49 proportional region sums → 48 gradient bits → 6×8-bit
    * pigeonhole chunks. `fp(doc_id, dhash)` and
    * `cb(doc_id, dhash, chunk_idx, chunk_bits)` are the reusable
    * outputs; the pair/cluster/index oracles all build on them.
    */
  /** The dhash CTE chain for one single-stream modality (doc_id % 3 =
    * `mod`: 0 image, 1 audio — both decode to the raw text, image by
    * container strip, audio by whole-payload passthrough). `p` prefixes
    * every CTE name so two chains can coexist in one oracle (the
    * cross-modal query joins the image chain against the video chain).
    */
  private def dhashCtesFor(mod: Int, p: String = "") =
    s"""${p}c AS (SELECT doc_id, text AS content, length(text) AS L
       |           FROM documents WHERE doc_id % 3 = $mod),
       |${p}pos AS (SELECT doc_id, content, L,
       |               unnest(generate_series(1, L)) AS j FROM ${p}c),
       |${p}ch AS (SELECT doc_id, ((j-1) * 49) // L AS region,
       |              unicode(substr(content, j, 1)) AS code FROM ${p}pos),
       |${p}gs AS (SELECT doc_id, region, CAST(sum(code) AS BIGINT) AS s
       |       FROM ${p}ch GROUP BY doc_id, region),
       |${p}allr AS (SELECT doc_id, unnest(generate_series(0, 48)) AS region FROM ${p}c),
       |${p}rs AS (SELECT a.doc_id, a.region, coalesce(g.s, 0) AS s
       |       FROM ${p}allr a LEFT JOIN ${p}gs g
       |         ON g.doc_id = a.doc_id AND g.region = a.region),
       |${p}gr AS (SELECT doc_id, region, s,
       |              lead(s) OVER (PARTITION BY doc_id ORDER BY region) AS s2
       |       FROM ${p}rs),
       |${p}fp AS (SELECT doc_id,
       |         CAST(sum(CASE WHEN s > s2
       |                       THEN CAST(power(2, 47 - region) AS BIGINT)
       |                       ELSE 0 END) AS BIGINT) AS dhash
       |       FROM ${p}gr WHERE region < 48 GROUP BY doc_id),
       |${p}ck AS (SELECT doc_id, dhash,
       |              unnest(generate_series(0, 5)) AS chunk_idx FROM ${p}fp),
       |${p}cb AS (SELECT doc_id, dhash, chunk_idx,
       |              CAST(floor(dhash / power(2, chunk_idx*8)) AS BIGINT) % 256
       |                AS chunk_bits FROM ${p}ck)""".stripMargin

  private val dhashCtes = dhashCtesFor(0)

  /** Verified near-dup pairs over the chunk CTEs of one modality. */
  private def nearDupPairsSqlFor(mod: Int) =
    s"""WITH ${dhashCtesFor(mod)}
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.dhash, y.dhash)) AS hamming
       |  FROM cb x JOIN cb y
       |    ON x.chunk_idx = y.chunk_idx AND x.chunk_bits = y.chunk_bits
       |   AND x.doc_id < y.doc_id)
       |WHERE hamming <= 5""".stripMargin

  /** The image face — shared by the operator-face and index-face pairs
    * queries and embedded by the clusters oracle.
    */
  private val nearDupPairsSql = nearDupPairsSqlFor(0)

  /** The VIDEO near-dup oracle: per-frame slices (frame count = the
    * n mod 16 + 1 the real GIF blocks carry; frame k = the k-th
    * floor(L/F)-char slice of the stripped content), the dhash chain
    * keyed on (doc_id, frame_idx), banded candidates, and MIN
    * pairwise-frame hamming per pair — replaying
    * `MultimodalOps.nearDupPairsVideo` arithmetic verbatim.
    */
  private val videoDhashCtes =
    """WITH c AS (SELECT doc_id, text AS content, length(text) AS L,
      |                  length(text) % 16 + 1 AS F
      |           FROM documents WHERE doc_id % 3 = 2),
      |fr AS (SELECT doc_id, content, L // F AS fl,
      |              unnest(generate_series(0, F - 1)) AS frame_idx FROM c),
      |fc AS (SELECT doc_id, frame_idx,
      |              substr(content, frame_idx * fl + 1, fl) AS content, fl AS L
      |       FROM fr WHERE fl > 0),
      |pos AS (SELECT doc_id, frame_idx, content, L,
      |               unnest(generate_series(1, L)) AS j FROM fc),
      |ch AS (SELECT doc_id, frame_idx, ((j-1) * 49) // L AS region,
      |              unicode(substr(content, j, 1)) AS code FROM pos),
      |gs AS (SELECT doc_id, frame_idx, region, CAST(sum(code) AS BIGINT) AS s
      |       FROM ch GROUP BY doc_id, frame_idx, region),
      |allr AS (SELECT doc_id, frame_idx,
      |                unnest(generate_series(0, 48)) AS region FROM fc),
      |rs AS (SELECT a.doc_id, a.frame_idx, a.region, coalesce(g.s, 0) AS s
      |       FROM allr a LEFT JOIN gs g
      |         ON g.doc_id = a.doc_id AND g.frame_idx = a.frame_idx
      |        AND g.region = a.region),
      |gr AS (SELECT doc_id, frame_idx, region, s,
      |              lead(s) OVER (PARTITION BY doc_id, frame_idx
      |                            ORDER BY region) AS s2
      |       FROM rs),
      |fp AS (SELECT doc_id, frame_idx,
      |         CAST(sum(CASE WHEN s > s2
      |                       THEN CAST(power(2, 47 - region) AS BIGINT)
      |                       ELSE 0 END) AS BIGINT) AS dhash
      |       FROM gr WHERE region < 48 GROUP BY doc_id, frame_idx),
      |ck AS (SELECT doc_id, frame_idx, dhash,
      |              unnest(generate_series(0, 5)) AS chunk_idx FROM fp),
      |cb AS (SELECT doc_id, dhash, chunk_idx,
      |              CAST(floor(dhash / power(2, chunk_idx*8)) AS BIGINT) % 256
      |                AS chunk_bits FROM ck)""".stripMargin

  /** The verified-min pairs tail over the video chunk CTEs, optionally
    * restricted to chunk buckets of size ≤ maxBucket (the stop-key
    * dial's oracle mirror).
    */
  private def videoPairsTail(maxBucket: Option[Int]): String = {
    val (capCtes, src) = maxBucket match {
      case Some(m) =>
        (s""",
            |small AS (SELECT chunk_idx, chunk_bits FROM cb
            |          GROUP BY chunk_idx, chunk_bits HAVING count(*) <= $m),
            |cbs AS (SELECT cb.* FROM cb JOIN small
            |          USING (chunk_idx, chunk_bits))""".stripMargin, "cbs")
      case None => ("", "cb")
    }
    s"""$capCtes
       |SELECT doc_a, doc_b, min(hamming) AS hamming FROM (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.dhash, y.dhash)) AS hamming
       |  FROM $src x JOIN $src y
       |    ON x.chunk_idx = y.chunk_idx AND x.chunk_bits = y.chunk_bits
       |   AND x.doc_id < y.doc_id)
       |WHERE hamming <= 5
       |GROUP BY doc_a, doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val videoNearDupSql = videoDhashCtes + videoPairsTail(None)

  /** The two-family consensus oracle for any modality `mod` over the
    * given verified-pair derivation — the dHash pairs plus a w-prefixed
    * Walsh–Hadamard fingerprint chain (coefficient k signed by
    * popcount(k AND region) parity; absent regions and the power-of-two
    * padding contribute zero and are omitted). `wfp` is derived from
    * the SAME doc universe as the dhash chain (LEFT JOIN, coalesce 0):
    * an empty-content doc has no position rows and would otherwise
    * vanish from the INNER JOIN while Spark's WHash computes 0 for it —
    * and the dhash chain DOES retain L=0 docs via the allr padding, so
    * such docs can appear in the pair set. Shared by the corpus-scan
    * and index faces of each modality.
    */
  private def consensusSqlFor(mod: Int, pairsSql: String): String =
    s"""WITH wgs AS (
       |  SELECT doc_id, ((j-1) * 49) // L AS region,
       |         CAST(sum(unicode(substr(content, j, 1))) AS BIGINT) AS s
       |  FROM (SELECT doc_id, text AS content, length(text) AS L,
       |               unnest(generate_series(1, length(text))) AS j
       |        FROM documents WHERE doc_id % 3 = $mod)
       |  GROUP BY doc_id, region),
       |wco AS (SELECT doc_id, k,
       |          CAST(sum(CASE WHEN bit_count(k & region) % 2 = 1
       |                        THEN -s ELSE s END) AS BIGINT) AS coef
       |        FROM (SELECT doc_id, region, s,
       |                     unnest(generate_series(1, 48)) AS k FROM wgs)
       |        GROUP BY doc_id, k),
       |wfp0 AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN coef > 0
       |                        THEN CAST(power(2, 48 - k) AS BIGINT)
       |                        ELSE 0 END) AS BIGINT) AS whash
       |        FROM wco GROUP BY doc_id),
       |wfp AS (SELECT d.doc_id, coalesce(w.whash, 0) AS whash
       |        FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = $mod) d
       |        LEFT JOIN wfp0 w ON w.doc_id = d.doc_id),
       |p AS (SELECT doc_a, doc_b, hamming FROM ($pairsSql))
       |SELECT p.doc_a, p.doc_b, p.hamming,
       |  bit_count(xor(a.whash, b.whash)) AS whash_hamming,
       |  bit_count(xor(a.whash, b.whash)) <= 5 AS confirmed
       |FROM p JOIN wfp a ON a.doc_id = p.doc_a
       |       JOIN wfp b ON b.doc_id = p.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  private val consensusSql = consensusSqlFor(0, nearDupPairsSql)
  private val consensusAudioSql = consensusSqlFor(1, nearDupPairsSqlFor(1))
  private val consensusVideoSql = consensusSqlFor(2, videoNearDupSql)

  /** The cross-modal frame-match oracle (image chain i-prefixed so both
    * chains coexist), shared by the corpus-scan and index faces.
    */
  private val frameMatchSql =
    s"""$videoDhashCtes,
       |${dhashCtesFor(0, "i")}
       |SELECT image_id, video_id, min(hamming) AS hamming FROM (
       |  SELECT DISTINCT x.doc_id AS image_id, y.doc_id AS video_id,
       |    bit_count(xor(x.dhash, y.dhash)) AS hamming
       |  FROM icb x JOIN cb y
       |    ON x.chunk_idx = y.chunk_idx AND x.chunk_bits = y.chunk_bits)
       |WHERE hamming <= 5
       |GROUP BY image_id, video_id
       |ORDER BY image_id, video_id""".stripMargin

  /** The image curation oracle — shared by the corpus-scan face and the
    * index-served verdict: the shared pair derivation's recursive
    * closure, an exact-duplicate partition over (text, container
    * parity) — two docs share payload BYTES iff their text and
    * container type both match — and the independent header-dimension
    * formulas.
    */
  private val curationSql =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($nearDupPairsSql)),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |comp AS (SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |         FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
       |img AS (SELECT doc_id, text, octet_length(encode(text)) AS n
       |        FROM documents WHERE doc_id % 3 = 0),
       |ex AS (SELECT doc_id,
       |         min(doc_id) OVER (PARTITION BY text, (doc_id // 3) % 2)
       |           AS ex_keeper
       |       FROM img)
       |SELECT i.doc_id,
       |  CASE WHEN e.ex_keeper <> i.doc_id THEN 'exact_dup'
       |       WHEN c.component IS NOT NULL AND c.component <> i.doc_id
       |         THEN 'near_dup'
       |       WHEN (64 + i.n % 512) * (64 + (i.n * 31) % 512) < 16384
       |         THEN 'too_small'
       |       ELSE 'keep' END AS status,
       |  CASE WHEN e.ex_keeper <> i.doc_id THEN e.ex_keeper
       |       WHEN c.component IS NOT NULL AND c.component <> i.doc_id
       |         THEN c.component END AS dup_of
       |FROM img i JOIN ex e ON e.doc_id = i.doc_id
       |LEFT JOIN comp c ON c.doc_id = i.doc_id
       |ORDER BY i.doc_id""".stripMargin

  /** The video curation oracle — all videos share one container family,
    * so the exact partition is the text alone; the content floor is the
    * degenerate-frame cut (L // F = 0 → no per-frame signal).
    */
  private val curationVideoSql =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($videoNearDupSql)),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |comp AS (SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |         FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
       |vid AS (SELECT doc_id, text, length(text) AS L,
       |               length(text) % 16 + 1 AS F
       |        FROM documents WHERE doc_id % 3 = 2),
       |ex AS (SELECT doc_id,
       |         min(doc_id) OVER (PARTITION BY text) AS ex_keeper
       |       FROM vid)
       |SELECT v.doc_id,
       |  CASE WHEN e.ex_keeper <> v.doc_id THEN 'exact_dup'
       |       WHEN c.component IS NOT NULL AND c.component <> v.doc_id
       |         THEN 'near_dup'
       |       WHEN v.L // v.F = 0 THEN 'no_content'
       |       ELSE 'keep' END AS status,
       |  CASE WHEN e.ex_keeper <> v.doc_id THEN e.ex_keeper
       |       WHEN c.component IS NOT NULL AND c.component <> v.doc_id
       |         THEN c.component END AS dup_of
       |FROM vid v JOIN ex e ON e.doc_id = v.doc_id
       |LEFT JOIN comp c ON c.doc_id = v.doc_id
       |ORDER BY v.doc_id""".stripMargin

  /** The audio curation oracle — no container, so the exact partition
    * is the raw stream; the signal floor rejects streams shorter than
    * one sample per fingerprint region.
    */
  private val curationAudioSql =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM (${nearDupPairsSqlFor(1)})),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |comp AS (SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |         FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
       |aud AS (SELECT doc_id, text, octet_length(encode(text)) AS n
       |        FROM documents WHERE doc_id % 3 = 1),
       |ex AS (SELECT doc_id,
       |         min(doc_id) OVER (PARTITION BY text) AS ex_keeper
       |       FROM aud)
       |SELECT a.doc_id,
       |  CASE WHEN e.ex_keeper <> a.doc_id THEN 'exact_dup'
       |       WHEN c.component IS NOT NULL AND c.component <> a.doc_id
       |         THEN 'near_dup'
       |       WHEN a.n < 49 THEN 'too_short'
       |       ELSE 'keep' END AS status,
       |  CASE WHEN e.ex_keeper <> a.doc_id THEN e.ex_keeper
       |       WHEN c.component IS NOT NULL AND c.component <> a.doc_id
       |         THEN c.component END AS dup_of
       |FROM aud a JOIN ex e ON e.doc_id = a.doc_id
       |LEFT JOIN comp c ON c.doc_id = a.doc_id
       |ORDER BY a.doc_id""".stripMargin

  /** The recursive-transitive-closure clustering oracle over a verified
    * pair derivation (component = min doc_id of the cluster) — shared
    * by every cluster face: corpus-scan label-prop and the persisted
    * `_clusters` artifact state the same fixpoint.
    */
  private def ccSql(pairsSql: String): String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($pairsSql)),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges)
       |SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |FROM nodes n JOIN reach r ON r.u = n.id
       |GROUP BY n.id ORDER BY doc_id""".stripMargin

  /** The dedup-savings oracle for one modality's verified-pair
    * derivation (per near-dup cluster: members, total encoded bytes,
    * bytes reclaimed keeping only the keeper) — shared by the
    * corpus-scan face and the index-served reads (full and grown;
    * `sz` covers every modality, the cluster join restricts it to the
    * pair derivation's own).
    */
  private def dedupSavingsSqlFor(pairsSql: String): String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($pairsSql)),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |cl AS (SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |       FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
       |sz AS (SELECT doc_id, CAST(n_bytes AS BIGINT) AS bytes
       |       FROM ($encodedMediaSql))
       |SELECT component AS keeper_doc_id,
       |  count(*) AS n_members,
       |  CAST(sum(bytes) AS BIGINT) AS bytes_total,
       |  CAST(sum(bytes)
       |       - sum(CASE WHEN cl.doc_id = component THEN bytes ELSE 0 END)
       |       AS BIGINT) AS bytes_saved
       |FROM cl JOIN sz ON sz.doc_id = cl.doc_id
       |GROUP BY component ORDER BY keeper_doc_id""".stripMargin

  /** The cross-modal content-family oracle (connected components over
    * the image↔video match graph) — shared by the corpus-scan clusters
    * face and the index×index sweep's clusters face.
    */
  private lazy val frameMatchClustersSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT image_id AS doc_a, video_id AS doc_b
       |      FROM ($frameMatchSql)),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges)
       |SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |FROM nodes n JOIN reach r ON r.u = n.id
       |GROUP BY n.id ORDER BY doc_id""".stripMargin

  private val dedupSavingsSql = dedupSavingsSqlFor(nearDupPairsSql)
  private val dedupSavingsAudioSql = dedupSavingsSqlFor(nearDupPairsSqlFor(1))
  private val dedupSavingsVideoSql = dedupSavingsSqlFor(videoNearDupSql)

  /** The text↔media screen oracle for a held modality `mod` (doc_id %
    * 3: 0 image, 1 audio, 2 video) — the blocklist is modality-agnostic
    * in the shared stub-embedding space, so one SQL shape serves all
    * three held sides.
    */
  private def textMediaScreenSqlFor(mod: Int): String = {
    import OracleSnippets._
    val h = charHash("text")
    val emb =
      s"list_transform(generate_series(0, 7), ej -> CAST(($h * (ej+1)) % 1009 + 1 AS DOUBLE) / 1010.0)"
    def centeredBucket(e: String, dims: Seq[Int]): String =
      dims.zipWithIndex.map { case (dd, i) =>
        val w = 1L << (dims.size - 1 - i)
        s"(CASE WHEN ($e)[${dd + 1}] > 0.5 THEN $w ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val allBands = Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7))
    def bandSelects(src: String, idCol: String) = allBands.zipWithIndex
      .map { case (dims, i) =>
        s"  SELECT $idCol, $i AS band_idx, ${centeredBucket("e", dims)} AS bucket FROM $src"
      }
      .mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT doc_id, $emb AS e FROM documents),
       |m AS (SELECT doc_id AS media_id, e FROM v
       |      WHERE doc_id % 3 = $mod AND doc_id % 10 = 0),
       |nt AS (SELECT doc_id, ${unitNorm("e")} AS u FROM v),
       |nm AS (SELECT media_id, ${unitNorm("e")} AS u FROM m),
       |bt AS (
       |${bandSelects("v", "doc_id")}
       |),
       |bm AS (
       |${bandSelects("m", "media_id")}
       |),
       |cand AS (SELECT DISTINCT t.doc_id, h.media_id
       |         FROM bt t JOIN bm h
       |           ON t.band_idx = h.band_idx AND t.bucket = h.bucket
       |         WHERE t.doc_id <> h.media_id),
       |ver AS (SELECT c.doc_id, ${dot("a.u", "b.u")} AS cosine
       |        FROM cand c
       |        JOIN nt a ON a.doc_id = c.doc_id
       |        JOIN nm b ON b.media_id = c.media_id
       |        WHERE ${dot("a.u", "b.u")} >= 0.999),
       |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_media_matches,
       |                max(cosine) AS max_cosine
       |         FROM ver GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(h.n_media_matches, 0) AS n_media_matches,
       |  coalesce(h.max_cosine, 0.0) AS max_cosine,
       |  coalesce(h.n_media_matches, 0) > 0 AS flagged
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // Modality mix report: per media type, row count, total payload
    // bytes, and byte share (one division against the broadcast 1-row
    // total) — the dataset-card table a multimodal corpus publishes.
    Q(
      "mm_type_mix",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val m = MultimodalOps
          .asMedia(documents(s, d))
          .groupBy(col("media_type"))
          .agg(
            count(lit(1)).as("n_items"),
            sum(octet_length(col("payload")).cast("long")).as("n_bytes"),
          )
        m.crossJoin(broadcast(m.agg(sum(col("n_bytes")).as("total"))))
          .select(
            col("media_type"),
            col("n_items"),
            col("n_bytes"),
            (col("n_bytes").cast("double") / col("total").cast("double")).as("byte_share"),
          )
          .orderBy("media_type")
      },
      Some(s"""WITH m AS (
              |  SELECT media_type, count(*) AS n_items,
              |         CAST(sum(n_bytes) AS BIGINT) AS n_bytes
              |  FROM ($mediaSql) GROUP BY media_type),
              |t AS (SELECT CAST(sum(n_bytes) AS BIGINT) AS total FROM m)
              |SELECT media_type, n_items, n_bytes,
              |  CAST(n_bytes AS DOUBLE) / CAST(total AS DOUBLE) AS byte_share
              |FROM m CROSS JOIN t ORDER BY media_type""".stripMargin),
    ),
    // WebDataset-style shard planning: within each modality stream, lay
    // payloads end to end in doc_id order and cut 64 KiB shards — a
    // shard is where a payload's FIRST byte lands (concat-then-split,
    // the tx_pack discipline on bytes: a running sum, not a bin-packing
    // solver). Pure integer arithmetic; one per-modality window.
    Q(
      "mm_shard_pack",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val w = Window
          .partitionBy("media_type")
          .orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        MultimodalOps
          .asMedia(documents(s, d))
          .select(
            col("media_type"),
            col("doc_id"),
            octet_length(col("payload")).cast("long").as("n_bytes"),
          )
          .withColumn("cum_before", sum(col("n_bytes")).over(w) - col("n_bytes"))
          .withColumn("shard_id", expr("cum_before div 65536L"))
          .groupBy(col("media_type"), col("shard_id"))
          .agg(
            count(lit(1)).as("n_items"),
            sum(col("n_bytes")).as("shard_bytes"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
          )
          .orderBy("media_type", "shard_id")
      },
      Some(s"""WITH m AS (SELECT media_type, doc_id, CAST(n_bytes AS BIGINT) AS n_bytes
              |          FROM ($mediaSql)),
              |c AS (SELECT media_type, doc_id, n_bytes,
              |        sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes
              |          AS cum_before
              |      FROM m)
              |SELECT media_type, CAST(cum_before AS BIGINT) // 65536 AS shard_id,
              |  count(*) AS n_items, CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
              |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
              |FROM c GROUP BY media_type, shard_id
              |ORDER BY media_type, shard_id""".stripMargin),
    ),
    Q(
      "mm_binary_meta",
      (s, d) => {
        import org.apache.spark.sql.functions._
        MultimodalOps
          .asMedia(documents(s, d))
          .select(
            col("doc_id"),
            col("media_type"),
            octet_length(col("payload")).cast("long").as("n_bytes"),
            sha2(col("payload"), 256).as("sha256"),
            md5(col("payload")).as("md5"),
          )
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, media_type, n_bytes, sha256(text) AS sha256, md5(text) AS md5
              |FROM ($mediaSql) ORDER BY doc_id""".stripMargin),
    ),
    // Width/height for image rows are PARSED from the PNG/JPEG header
    // bytes encodeMedia wrote; the oracle predicts what those headers
    // carry (the same deterministic dimensions, plus the container's
    // byte overhead), so the whole encode→parse round-trip is
    // hash-checked. Non-container rows take the stub formulas over the
    // raw payload.
    Q(
      "mm_decode_meta",
      (s, d) => MultimodalOps.decodeHeaderMeta(MultimodalOps.encodeMedia(documents(s, d)))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, media_type, n_bytes,
              |  64 + content_bytes % 512 AS width,
              |  64 + (content_bytes * 31) % 512 AS height,
              |  CAST(3 AS BIGINT) AS channels,
              |  CASE WHEN media_type = 'image' THEN 1 ELSE content_bytes % 16 + 1 END AS n_frames
              |FROM ($encodedMediaSql) ORDER BY doc_id""".stripMargin),
    ),
    // Resize planning: aspect-preserving fit into 224×224, no upscale.
    // Runs over encoded media: the input dims are parsed from the real
    // image headers (identical values to the formulas the oracle
    // states, since encodeMedia wrote exactly those into the bytes).
    Q(
      "mm_resize_plan",
      (s, d) => MultimodalOps.planResize(MultimodalOps.encodeMedia(documents(s, d)), target = 224)
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, width, height, scale,
              |  CAST(floor(width * scale) AS BIGINT) AS out_width,
              |  CAST(floor(height * scale) AS BIGINT) AS out_height
              |FROM (
              |  SELECT doc_id, width, height,
              |    least(1.0, 224.0 / width, 224.0 / height) AS scale
              |  FROM (SELECT doc_id,
              |          64 + n_bytes % 512 AS width,
              |          64 + (n_bytes * 31) % 512 AS height
              |        FROM ($mediaSql) WHERE media_type = 'image'))
              |ORDER BY doc_id""".stripMargin),
    ),
    // Media ANN: stub feature-extract → cosine top-3 within media type
    // (the IVF-style cell). Chains the multimodal plumbing into the
    // similarity operators end-to-end; the embedding derivation is
    // portable, so the whole chain is oracle-checked.
    Q(
      "mm_embed_topk",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val emb = MultimodalOps.stubEmbed(MultimodalOps.asMedia(documents(s, d)))
          .select(col("doc_id").as("vec_id"), col("media_type"), col("embedding"))
        graft.operators.SimilarityOps
          .ivfTopK(emb, col("vec_id") < 10, col("media_type"), k = 3)
      },
      Some {
        import OracleSnippets._
        val h = charHash("text")
        val emb = s"list_transform(generate_series(0, 7), ej -> CAST(($h * (ej+1)) % 1009 + 1 AS DOUBLE) / 1010.0)"
        s"""WITH m AS (
           |  SELECT doc_id AS vec_id, media_type, $emb AS e
           |  FROM ($mediaSql)),
           |n AS (SELECT vec_id, media_type, ${unitNorm("e")} AS u FROM m),
           |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |        ${dot("q.u", "c.u")} AS cosine
           |      FROM n q JOIN n c
           |        ON q.vec_id < 10 AND q.vec_id <> c.vec_id
           |       AND q.media_type = c.media_type)
           |SELECT query_id, neighbor_id, cosine, rank FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           |              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           |  FROM p)
           |WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin
      },
    ),
    Q(
      "mm_frame_sample",
      (s, d) => MultimodalOps.sampleFrames(MultimodalOps.encodeMedia(documents(s, d)), step = 4),
      Some(s"""SELECT doc_id, n_frames,
              |  unnest(generate_series(0, n_frames - 1, 4)) AS frame_idx
              |FROM (SELECT doc_id, n_bytes % 16 + 1 AS n_frames
              |      FROM ($mediaSql) WHERE media_type = 'video')
              |ORDER BY doc_id, frame_idx""".stripMargin),
    ),
    // Scene-change detection: frame-to-frame dHash delta per video —
    // consecutive frames within the near-dup hamming budget (≤5)
    // continue a scene, a larger jump (or frame 0) opens one. The pass
    // a video pipeline runs BEFORE frame sampling: sample per scene,
    // not per fixed stride. One hash partition by doc_id; per-video
    // window state is O(frames). Measured at sf0.01: 636/1636
    // consecutive-frame deltas are 0 (held shots), the rest spread to
    // 32 bits — the threshold separates real structure.
    Q(
      "mm_scene_cut",
      (s, d) => MultimodalOps.sceneCuts(
        MultimodalOps.encodeMedia(documents(s, d)), regions = 49, sameSceneHamming = 5),
      Some(s"""$videoDhashCtes,
              |d AS (SELECT doc_id, frame_idx, dhash,
              |             lag(dhash) OVER (PARTITION BY doc_id
              |                              ORDER BY frame_idx) AS prev
              |      FROM fp),
              |e AS (SELECT doc_id, frame_idx,
              |             CASE WHEN prev IS NULL THEN NULL
              |                  ELSE bit_count(xor(dhash, prev)) END AS delta,
              |             CASE WHEN prev IS NULL
              |                    OR bit_count(xor(dhash, prev)) > 5
              |                  THEN 1 ELSE 0 END AS cut
              |      FROM d)
              |SELECT doc_id, frame_idx, delta,
              |  CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
              |                      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
              |    AS scene_id
              |FROM e ORDER BY doc_id, frame_idx""".stripMargin),
    ),
    // Keyframe selection: one representative frame per scene (the cut
    // frame itself) + the scene length — the per-scene sampling plan
    // downstream captioning/embedding consumes instead of a fixed
    // stride. One aggregation on (doc_id, scene_id).
    Q(
      "mm_keyframes",
      (s, d) => MultimodalOps.keyframes(
        MultimodalOps.encodeMedia(documents(s, d)), regions = 49, sameSceneHamming = 5),
      Some(s"""$videoDhashCtes,
              |d AS (SELECT doc_id, frame_idx, dhash,
              |             lag(dhash) OVER (PARTITION BY doc_id
              |                              ORDER BY frame_idx) AS prev
              |      FROM fp),
              |e AS (SELECT doc_id, frame_idx,
              |             CASE WHEN prev IS NULL
              |                    OR bit_count(xor(dhash, prev)) > 5
              |                  THEN 1 ELSE 0 END AS cut
              |      FROM d),
              |sc AS (SELECT doc_id, frame_idx,
              |         CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
              |                             ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
              |           AS scene_id
              |       FROM e)
              |SELECT doc_id, scene_id, min(frame_idx) AS keyframe_idx,
              |       CAST(count(*) AS BIGINT) AS n_frames
              |FROM sc GROUP BY doc_id, scene_id
              |ORDER BY doc_id, scene_id""".stripMargin),
    ),
    // Binary content-hash dedup — the first pass every media pipeline
    // runs before any decode: hash the raw payload BYTES (not a decoded
    // form), one shuffle on the digest, keep the lowest doc_id per
    // group. Payloads here are asMedia's UTF-8 stand-ins, so DuckDB's
    // md5 over the text column hashes the identical byte string.
    Q(
      "mm_exact_dedup",
      (s, d) => {
        import org.apache.spark.sql.functions._
        MultimodalOps.asMedia(documents(s, d))
          .groupBy(md5(col("payload")).as("payload_md5"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))
          .orderBy("payload_md5")
      },
      Some("""SELECT md5(text) AS payload_md5, CAST(count(*) AS BIGINT) AS n_copies,
             |  min(doc_id) AS keeper_doc_id
             |FROM documents GROUP BY payload_md5 ORDER BY payload_md5""".stripMargin),
    ),
    // Perceptual near-dup image dedup — what mm_exact_dedup cannot
    // catch: re-encoded copies (same image, different container) and
    // lightly-edited copies differ in payload BYTES but their decoded
    // content streams are identical/close, so their dHash gradient
    // fingerprints (48-bit, DHash expression over the content parsed
    // out of the real PNG/JPEG headers) sit within hamming ≤ 5.
    // Candidates by exact pigeonhole banding (6 chunks × 8 bits —
    // equi-join, never all-pairs). The oracle predicts the decoded
    // content independently (= the raw text for image rows) and
    // replays the region-sum/gradient arithmetic verbatim, so a
    // header-length misread of even one byte hash-mismatches.
    Q(
      "mm_near_dedup",
      (s, d) => MultimodalOps.nearDupPairs(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5),
      Some(s"$nearDupPairsSql\nORDER BY doc_a, doc_b"),
    ),
    // AUDIO perceptual near-dup: the same banded dHash machinery over
    // the raw stand-in sample stream (audio rows carry no container —
    // decodeContent passes them through whole; the gradient fingerprint
    // stands in for a chromaprint-style acoustic hash, the
    // banding/verify plumbing is the real thing). Catches re-delivered
    // copies of the same stream that byte-level exact dedup already
    // catches AND near-identical streams (small edits) it cannot.
    Q(
      "mm_near_dedup_audio",
      (s, d) => MultimodalOps.nearDupPairs(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5, mediaType = "audio"),
      Some(s"${nearDupPairsSqlFor(1)}\nORDER BY doc_a, doc_b"),
    ),
    // VIDEO perceptual near-dup: one dHash PER FRAME (frame count read
    // from the real GIF image-descriptor blocks; frame k = the k-th
    // equal slice of the stripped content — the deterministic stand-in
    // for a codec's frame decode), banded candidates over frame
    // fingerprints, pair score = MIN pairwise-frame hamming. The min
    // over verified collisions is exact (the closest frame pair
    // collides by pigeonhole), and frames are never compared all-pairs.
    Q(
      "mm_near_dedup_video",
      (s, d) => MultimodalOps.nearDupPairsVideo(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5),
      Some(videoNearDupSql),
    ),
    // Video near-dup pairs turned into dedup CLUSTERS (connected
    // components, keeper = min doc_id) — the per-modality face of
    // mm_near_dedup_clusters, same recursive-closure oracle over the
    // video pairs.
    Q(
      "mm_near_dedup_video_clusters",
      (s, d) => graft.operators.DedupOps.connectedComponents(
        MultimodalOps.nearDupPairsVideo(
          MultimodalOps.encodeMedia(documents(s, d)),
          regions = 49, blockBands = 6, maxHamming = 5)),
      Some(ccSql(videoNearDupSql)),
    ),
    // The video cluster assignment served from the persisted artifact:
    // label-prop ran once at index-build time over pairs read from the
    // stored chunk table; the read face is a bucket scan. Same oracle
    // as the corpus-scan clustering above.
    Q(
      "mm_index_clusters_video",
      (s, d) => graft.operators.MediaIndexOps.clustersFromIndex(
        s, fullMediaIndex(s, d, "video")),
      Some(ccSql(videoNearDupSql)),
    ),
    // TWO-FAMILY consensus dedup: the dHash banding proposes pairs
    // (local-gradient family), the Walsh–Hadamard family re-verifies
    // each one (global frequency structure — each bit is the sign of
    // one WHT coefficient of the region-sum vector; the ±1 basis keeps
    // everything exact integer where a DCT-based pHash could not
    // hash-match across engines). Standalone wHash banding floods on
    // template corpora (21k hamming-0 pairs at sf0.1), which is why
    // the second family verifies the first family's candidates:
    // output bounded by the dHash pair set. The oracle replays the
    // WHT coefficient by coefficient — parity of popcount(k AND
    // region) signs each term; absent regions and the power-of-two
    // padding contribute zero and are simply omitted.
    Q(
      "mm_near_dedup_consensus",
      (s, d) => MultimodalOps.nearDupConsensus(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5, whashBudget = 5),
      Some(consensusSql),
    ),
    // Consensus served from the STORED index: the whash was computed
    // in the index build's single decode pass and rides in the _fps
    // rows, so the two-family judgment reads only stored fingerprints
    // — no payload is ever re-decoded. Bit-equal to the corpus-scan
    // face (MediaIndexSpec asserts it), one oracle for both.
    Q(
      "mm_index_consensus",
      (s, d) => graft.operators.MediaIndexOps.consensusFromIndex(
        s, fullMediaIndex(s, d, "image"), maxHamming = 5, whashBudget = 5),
      Some(consensusSql),
    ),
    // AUDIO two-family consensus — the image discipline on the raw
    // stand-in sample stream: dHash banding proposes (the
    // chromaprint-style local family), the whole-stream Walsh–Hadamard
    // fingerprint re-verifies each pair. Output bounded by the dHash
    // pair set, exactly as the image face.
    Q(
      "mm_near_dedup_consensus_audio",
      (s, d) => MultimodalOps.nearDupConsensus(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5, whashBudget = 5,
        mediaType = "audio"),
      Some(consensusAudioSql),
    ),
    // Audio consensus served from the STORED index: the whash rides in
    // the audio `_fps` rows (computed in the build's single decode
    // pass), so the judgment reads only stored fingerprints. Bit-equal
    // to the corpus-scan face; one oracle for both.
    Q(
      "mm_index_consensus_audio",
      (s, d) => graft.operators.MediaIndexOps.consensusFromIndex(
        s, fullMediaIndex(s, d, "audio"), maxHamming = 5, whashBudget = 5),
      Some(consensusAudioSql),
    ),
    // VIDEO two-family consensus: the dHash family proposes pairs PER
    // FRAME (min pairwise-frame hamming — the pigeonhole-exact video
    // reduction), the Walsh–Hadamard family re-verifies each pair as a
    // WHOLE-ITEM judgment (one WHash over the full stripped stream —
    // global frequency structure is a property of the item, not of a
    // 1/16th slice).
    Q(
      "mm_near_dedup_consensus_video",
      (s, d) => MultimodalOps.nearDupConsensusVideo(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5, whashBudget = 5),
      Some(consensusVideoSql),
    ),
    // Video consensus from the STORED per-frame index: the whole-item
    // whash repeats on every frame row of `_fps`, so `min(whash)` per
    // doc recovers exactly it and per-frame duplication can never
    // multiply pair rows — the read face costs the same two narrow
    // joins as the single-stream modalities.
    Q(
      "mm_index_consensus_video",
      (s, d) => graft.operators.MediaIndexOps.consensusFromIndex(
        s, fullMediaIndex(s, d, "video"), maxHamming = 5, whashBudget = 5),
      Some(consensusVideoSql),
    ),
    // PRECISION-FIRST clustering: connected components over only the
    // CONFIRMED consensus pairs (both fingerprint families agree) —
    // the clustering an aggressive auto-delete policy runs, where a
    // false merge destroys a unique item and one family's vote is not
    // enough. Same label-prop fixpoint; the edge set is the consensus
    // output filtered on the verdict, so it can only be sparser than
    // the dHash clustering.
    Q(
      "mm_near_dedup_consensus_clusters",
      (s, d) => graft.operators.DedupOps.connectedComponents(
        MultimodalOps.nearDupConsensus(
          MultimodalOps.encodeMedia(documents(s, d)),
          regions = 49, blockBands = 6, maxHamming = 5, whashBudget = 5)
          .filter(col("confirmed"))
          .select(col("doc_a"), col("doc_b"))),
      Some(ccSql(s"SELECT doc_a, doc_b FROM ($consensusSql) WHERE confirmed")),
    ),
    // Precision-first consensus clusters served from the persisted
    // `_cclusters` artifact: the pairs read stored fingerprints (both
    // families off `_fps` — no payload re-decoded) and label-prop ran
    // ONCE at build time, so the read face is a bucket scan like
    // mm_index_clusters. Same oracle as the corpus-scan face.
    Q(
      "mm_index_consensus_clusters",
      (s, d) => graft.operators.MediaIndexOps.consensusClustersFromIndex(
        s, fullMediaIndex(s, d, "image")),
      Some(ccSql(s"SELECT doc_a, doc_b FROM ($consensusSql) WHERE confirmed")),
    ),
    // The precision-first consensus assignment under INCREMENTAL ingest:
    // `_cclusters` served from the grown image index against the same
    // full-corpus oracle — until now the incremental consensus merge
    // (confirmed pairs re-derived per batch from the stored + batch
    // whashes, label-propped into the persisted table) was only
    // spec-checked; a missed confirmed pair or stale component now
    // hash-mismatches the from-scratch truth here.
    Q(
      "mm_index_grow_consensus_clusters",
      (s, d) => graft.operators.MediaIndexOps.consensusClustersFromIndex(
        s, grownMediaIndex(s, d)),
      Some(ccSql(s"SELECT doc_a, doc_b FROM ($consensusSql) WHERE confirmed")),
    ),
    // AUDIO dedup clusters — parity with the image and video cluster
    // faces: connected components (label prop to the fixpoint) over
    // the audio near-dup pairs, keeper = min doc_id.
    Q(
      "mm_near_dedup_audio_clusters",
      (s, d) => graft.operators.DedupOps.connectedComponents(
        MultimodalOps.nearDupPairs(
          MultimodalOps.encodeMedia(documents(s, d)),
          regions = 49, blockBands = 6, maxHamming = 5, "audio")),
      Some(ccSql(nearDupPairsSqlFor(1))),
    ),
    // The audio cluster assignment served from the persisted artifact —
    // a bucket scan, same oracle as the corpus-scan clustering.
    Q(
      "mm_index_clusters_audio",
      (s, d) => graft.operators.MediaIndexOps.clustersFromIndex(
        s, fullMediaIndex(s, d, "audio")),
      Some(ccSql(nearDupPairsSqlFor(1))),
    ),
    // CROSS-MODAL frame matching: video frames reproducing known images
    // (the upload-time blocklist/copyright screen). Image chain × video
    // frame chain on pigeonhole chunks, min-over-frames per pair — the
    // image CTEs carry an i-prefix so both chains coexist in one oracle.
    Q(
      "mm_frame_match",
      (s, d) => MultimodalOps.frameMatchPairs(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5),
      Some(frameMatchSql),
    ),
    // Cross-modal CONTENT FAMILIES: connected components over the
    // image↔video frame-match graph — "this image and these videos
    // carry the same content" is the unit a takedown or licensing
    // pass acts on, and it spans modalities (image ids and video ids
    // are disjoint, so the graph is bipartite; families merge through
    // shared images OR shared videos). Same label-prop fixpoint as
    // every cluster face, recursive-closure oracle over the shared
    // match derivation.
    Q(
      "mm_frame_match_clusters",
      (s, d) => graft.operators.DedupOps.connectedComponents(
        MultimodalOps.frameMatchPairs(
          MultimodalOps.encodeMedia(documents(s, d)),
          regions = 49, blockBands = 6, maxHamming = 5)
          .select(col("image_id").as("doc_a"), col("video_id").as("doc_b"))),
      Some(frameMatchClustersSql),
    ),
    // The full-catalog frame-match sweep as a PURE index×index read:
    // both sides are STORED chunk tables (image index × per-frame
    // video index) bucketed on the same (chunk_idx, chunk_bits) keys —
    // the nightly sweep joins them exchange-free with nothing decoded
    // and no fingerprint recomputed (mm_index_frame_match is the
    // arrival-time sibling that fingerprints the incoming videos).
    // Same oracle as the corpus-scan face.
    Q(
      "mm_index_frame_match_sweep",
      (s, d) => graft.operators.MediaIndexOps.frameMatchFromIndexes(
        s, fullMediaIndex(s, d, "image"), fullMediaIndex(s, d, "video"),
        maxHamming = 5),
      Some(frameMatchSql),
    ),
    // The cross-modal content FAMILIES as a PERSISTED-artifact read:
    // pairs came from the index×index sweep (no payload touched) and
    // label-prop ran ONCE at build time — the takedown/licensing unit
    // costs a bucket scan, exactly like every other cluster read face.
    // Same recursive-closure oracle as the corpus-scan clusters face.
    Q(
      "mm_index_frame_match_clusters",
      (s, d) => s.table(frameMatchFamiliesTable(s, d)).orderBy("doc_id"),
      Some(frameMatchClustersSql),
    ),
    // The families artifact INCREMENTALLY GROWN: seeded from the
    // stored-split video index's sweep, the last fifth of videos
    // merged in through the arrival-time match + touched-component
    // label-prop — read face shares the FULL-CORPUS closure oracle,
    // so a missed cross-batch family merge hash-mismatches.
    Q(
      "mm_index_frame_match_clusters_grown",
      (s, d) => s.table(grownFrameMatchFamiliesTable(s, d)).orderBy("doc_id"),
      Some(frameMatchClustersSql),
    ),
    // The same screen as an INDEX read — images are the stored
    // blocklist (the persisted fingerprint index), videos arrive and
    // fingerprint themselves; frame chunks join the STORED chunk table
    // (bucketed side never shuffles), stored payloads never re-read.
    // Bit-equal to the corpus-scan face, one oracle for both.
    Q(
      "mm_index_frame_match",
      (s, d) => graft.operators.MediaIndexOps.frameMatchAgainstIndex(
        s, fullMediaIndex(s, d, "image"),
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5),
      Some(frameMatchSql),
    ),
    // Index-served AUDIO near-dup pairs: the persisted fingerprint
    // index built over the audio modality (writeIndex mediaType dial);
    // exchange-free chunk self-join, same oracle as the corpus-scan
    // audio face.
    Q(
      "mm_index_pairs_audio",
      (s, d) => graft.operators.MediaIndexOps.nearDupPairs(
        s, fullMediaIndex(s, d, "audio"), maxHamming = 5),
      Some(s"${nearDupPairsSqlFor(1)}\nORDER BY doc_a, doc_b"),
    ),
    // Index-served VIDEO near-dup pairs: the index stores ONE
    // fingerprint ROW PER FRAME (doc_id repeats); the read face is the
    // same exchange-free chunk self-join as the image/audio faces, whose
    // hamming verify reports each pair at its MIN pairwise-frame
    // hamming — bit-equal to the corpus-scan video face, one oracle for
    // both.
    Q(
      "mm_index_pairs_video",
      (s, d) => graft.operators.MediaIndexOps.nearDupPairs(
        s, fullMediaIndex(s, d, "video"), maxHamming = 5),
      Some(videoNearDupSql),
    ),
    // The stop-key dial on the per-frame index: the capped pair face
    // with hot chunk buckets excluded before candidate generation.
    // Frame fingerprints concentrate HARDER than whole-item ones (short
    // slices, up to 16 rows per doc), so this is the face a 100 TB
    // video pipeline actually runs; bounded-recall tradeoff stated at
    // the operator.
    Q(
      "mm_index_pairs_video_capped",
      (s, d) => graft.operators.MediaIndexOps.nearDupPairsCapped(
        s, fullMediaIndex(s, d, "video"), maxHamming = 5, maxBucket = 32),
      Some(videoDhashCtes + videoPairsTail(Some(32))),
    ),
    // The pairs turned into dedup CLUSTERS: connected components over
    // the near-dup graph (label propagation to the fixpoint — the
    // dd_dedup_clusters machinery applied to the perceptual pairs);
    // component id = min doc_id of the cluster, i.e. the keeper an
    // image pipeline retains. The oracle states the same fixpoint as a
    // recursive transitive closure over the shared pair derivation.
    Q(
      "mm_near_dedup_clusters",
      (s, d) => graft.operators.DedupOps.connectedComponents(
        MultimodalOps.nearDupPairs(
          MultimodalOps.encodeMedia(documents(s, d)),
          regions = 49, blockBands = 6, maxHamming = 5)),
      Some(ccSql(nearDupPairsSql)),
    ),
    // The image cluster assignment served from the persisted artifact —
    // a bucket scan, same oracle as the corpus-scan clustering.
    Q(
      "mm_index_clusters",
      (s, d) => graft.operators.MediaIndexOps.clustersFromIndex(
        s, fullMediaIndex(s, d, "image")),
      Some(ccSql(nearDupPairsSql)),
    ),
    // Dedup savings report — the number a storage owner acts on: per
    // near-dup cluster, member count, total payload bytes (real
    // container bytes included), and the bytes RECLAIMED by keeping
    // only the keeper (= the min-doc_id member, the cluster label).
    // One join of the cluster labeling against payload sizes + one
    // aggregation on the component key.
    Q(
      "mm_dedup_savings",
      (s, d) => {
        val media = MultimodalOps.encodeMedia(documents(s, d))
        val clusters = graft.operators.DedupOps.connectedComponents(
          MultimodalOps.nearDupPairs(media, regions = 49, blockBands = 6, maxHamming = 5))
        clusters
          .join(media.select(col("doc_id"), octet_length(col("payload")).cast("long").as("bytes")), "doc_id")
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
      },
      Some(dedupSavingsSql),
    ),
    // The savings report as an INDEX read: the persisted cluster
    // assignment joins the meta table's payload sizes on the shared
    // doc_id bucketing (no exchange below the aggregation) — the
    // storage owner's nightly number without touching a payload. Same
    // oracle as the corpus-scan face.
    Q(
      "mm_index_savings",
      (s, d) => graft.operators.MediaIndexOps.savingsFromIndex(
        s, fullMediaIndex(s, d, "image")),
      Some(dedupSavingsSql),
    ),
    // The PERSISTED perceptual-fingerprint index (MediaIndexOps): build
    // the bucketed fingerprint/chunk tables, then answer entirely from
    // the stored artifact — the exchange-free candidate self-join
    // MediaIndexSpec pins, hamming verified inline from the fingerprint
    // each chunk row carries. Pairs are identical to mm_near_dedup's,
    // so they share its oracle.
    Q(
      "mm_index_pairs",
      (s, d) => graft.operators.MediaIndexOps.nearDupPairs(
        s, fullMediaIndex(s, d, "image"), maxHamming = 5),
      Some(s"$nearDupPairsSql\nORDER BY doc_a, doc_b"),
    ),
    // The stop-key dial on the fingerprint banding: chunk buckets with
    // more than 8 members are excluded from candidate generation —
    // measured at sf0.1, the hottest 8-bit chunk bucket holds ~8% of
    // the image corpus (~29k candidate pairs for one chunk position),
    // LSH's quadratic hot-key term. Bounded recall: a true pair is
    // missed only if every chunk it collides on is hot. The oracle
    // replays the cap over the shared fingerprint derivation.
    Q(
      "mm_index_pairs_capped",
      (s, d) => graft.operators.MediaIndexOps.nearDupPairsCapped(
        s, fullMediaIndex(s, d, "image"), maxHamming = 5, maxBucket = 8),
      Some(s"""WITH $dhashCtes,
              |sz AS (SELECT chunk_idx, chunk_bits, count(*) AS s
              |       FROM cb GROUP BY chunk_idx, chunk_bits),
              |okb AS (SELECT b.doc_id, b.dhash, b.chunk_idx, b.chunk_bits
              |        FROM cb b JOIN sz
              |          ON sz.chunk_idx = b.chunk_idx AND sz.chunk_bits = b.chunk_bits
              |         AND sz.s <= 8)
              |SELECT doc_a, doc_b, hamming FROM (
              |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
              |    bit_count(xor(x.dhash, y.dhash)) AS hamming
              |  FROM okb x JOIN okb y
              |    ON x.chunk_idx = y.chunk_idx AND x.chunk_bits = y.chunk_bits
              |   AND x.doc_id < y.doc_id)
              |WHERE hamming <= 5
              |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // Incremental dedup against the stored fingerprint index — the
    // upload-time "is this a copy of anything we hold?" check: images
    // with doc_id % 5 == 0 arrive as the new batch (their own decode,
    // one pass), the rest are the indexed corpus; batch chunks join the
    // STORED chunk table (bucketed side never shuffles), stored
    // payloads never re-read. The oracle reuses the symmetric pair
    // derivation and keeps exactly the cross (batch, stored) pairs,
    // oriented new→stored.
    Q(
      "mm_index_incremental",
      (s, d) => {
        val pre = Tables.tempIndexDb(s, "media", "incr")
        val media = MultimodalOps.encodeMedia(documents(s, d))
        graft.operators.MediaIndexOps.writeIndex(
          media.filter(col("doc_id") % 5 =!= 0),
          regions = 49, blockBands = 6, buckets = 8, prefix = pre)
        graft.operators.MediaIndexOps.dedupAgainstIndex(
          s, pre, media.filter(col("doc_id") % 5 === 0),
          regions = 49, blockBands = 6, maxHamming = 5)
      },
      Some(s"""SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS new_doc_id,
              |       CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS dup_of,
              |       hamming
              |FROM ($nearDupPairsSql)
              |WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)
              |ORDER BY new_doc_id, dup_of""".stripMargin),
    ),
    // The UPLOAD-TIME curation verdict: each arriving image (doc_id %
    // 5 = 0) is judged against the STORED corpus's artifacts only —
    // exact_dup by digest probe against the stored `_meta`, near_dup by
    // the banded chunk join against the stored index (dup_of = the
    // stored item at the smallest (hamming, doc_id) — a deterministic
    // arg-min), then the resolution floor, else keep. Read-only on the
    // index: the verdict gates admission, ingest is the
    // streaming-dedup face's job. The stored-split index + meta are
    // PRE-BUILT shared artifacts ([[splitMediaIndex]], Bench's un-timed
    // setup) — the timed query is the per-arrival probe alone, which is
    // what an admission gate costs at 100 TB (MediaIndexSpec asserts it
    // bit-equal to an in-query-build twin). The oracle replays the
    // exact match as the (text, container-parity) partition restricted
    // across the split, the near match as the symmetric pair
    // derivation's cross pairs with a row_number arg-min, and the floor
    // from the independent header formulas.
    Q(
      "mm_index_upload_verdict",
      (s, d) => {
        val pre = splitMediaIndex(s, d, "image")
        val media = MultimodalOps.encodeMedia(documents(s, d))
        val (floor, label) = MultimodalOps.imageFloor(16384L)
        graft.operators.MediaIndexOps.uploadVerdict(
          s, pre, media.filter(col("doc_id") % 5 === 0),
          regions = 49, blockBands = 6, maxHamming = 5, floor, label)
      },
      Some(s"""WITH arr AS (SELECT doc_id, text, octet_length(encode(text)) AS n,
              |                    (doc_id // 3) % 2 AS par
              |             FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 0),
              |st AS (SELECT doc_id, text, (doc_id // 3) % 2 AS par
              |       FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0),
              |ex AS (SELECT a.doc_id, min(s.doc_id) AS exact_of
              |       FROM arr a JOIN st s ON s.text = a.text AND s.par = a.par
              |       GROUP BY a.doc_id),
              |ndp AS (SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id,
              |               CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS stored,
              |               hamming
              |        FROM ($nearDupPairsSql)
              |        WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)),
              |nd AS (SELECT doc_id, stored AS near_of FROM (
              |         SELECT doc_id, stored,
              |                row_number() OVER (PARTITION BY doc_id
              |                                   ORDER BY hamming, stored) AS rn
              |         FROM ndp) WHERE rn = 1)
              |SELECT a.doc_id,
              |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
              |       WHEN n.near_of IS NOT NULL THEN 'near_dup'
              |       WHEN (64 + a.n % 512) * (64 + (a.n * 31) % 512) < 16384
              |         THEN 'too_small'
              |       ELSE 'keep' END AS status,
              |  coalesce(e.exact_of, n.near_of) AS dup_of
              |FROM arr a
              |LEFT JOIN ex e ON e.doc_id = a.doc_id
              |LEFT JOIN nd n ON n.doc_id = a.doc_id
              |ORDER BY a.doc_id""".stripMargin),
    ),
    // The AUDIO upload verdict — completes the admission-gate triplet:
    // digest probe, banded fingerprint probe over the raw stand-in
    // streams, and the too_short signal floor. Pre-built split
    // artifacts; the timed query is the per-arrival probe alone.
    Q(
      "mm_index_upload_verdict_audio",
      (s, d) => {
        val pre = splitMediaIndex(s, d, "audio")
        val media = MultimodalOps.encodeMedia(documents(s, d))
        val (floor, label) = MultimodalOps.audioFloor(49)
        graft.operators.MediaIndexOps.uploadVerdict(
          s, pre, media.filter(col("doc_id") % 5 === 0),
          regions = 49, blockBands = 6, maxHamming = 5, floor, label,
          mediaType = "audio")
      },
      Some(s"""WITH arr AS (SELECT doc_id, text, octet_length(encode(text)) AS n
              |             FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 = 0),
              |st AS (SELECT doc_id, text
              |       FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 <> 0),
              |ex AS (SELECT a.doc_id, min(s.doc_id) AS exact_of
              |       FROM arr a JOIN st s ON s.text = a.text
              |       GROUP BY a.doc_id),
              |ndp AS (SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id,
              |               CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS stored,
              |               hamming
              |        FROM (${nearDupPairsSqlFor(1)})
              |        WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)),
              |nd AS (SELECT doc_id, stored AS near_of FROM (
              |         SELECT doc_id, stored,
              |                row_number() OVER (PARTITION BY doc_id
              |                                   ORDER BY hamming, stored) AS rn
              |         FROM ndp) WHERE rn = 1)
              |SELECT a.doc_id,
              |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
              |       WHEN n.near_of IS NOT NULL THEN 'near_dup'
              |       WHEN a.n < 49 THEN 'too_short'
              |       ELSE 'keep' END AS status,
              |  coalesce(e.exact_of, n.near_of) AS dup_of
              |FROM arr a
              |LEFT JOIN ex e ON e.doc_id = a.doc_id
              |LEFT JOIN nd n ON n.doc_id = a.doc_id
              |ORDER BY a.doc_id""".stripMargin),
    ),
    // The VIDEO upload verdict — the same admission gate with the
    // per-frame wrinkle: the arriving video's frames each probe the
    // stored per-frame index, the candidate min over verified frame
    // collisions IS the min pairwise-frame hamming (exact by
    // pigeonhole), and the arg-min names the stored video. Floor =
    // the no_content frame cut; videos share one container family so
    // the exact partition is the text alone.
    // Pre-built split artifacts here too: the timed query is the
    // per-arrival frame probe alone.
    Q(
      "mm_index_upload_verdict_video",
      (s, d) => {
        val pre = splitMediaIndex(s, d, "video")
        val media = MultimodalOps.encodeMedia(documents(s, d))
        val (floor, label) = MultimodalOps.videoFloor
        graft.operators.MediaIndexOps.uploadVerdict(
          s, pre, media.filter(col("doc_id") % 5 === 0),
          regions = 49, blockBands = 6, maxHamming = 5, floor, label,
          mediaType = "video")
      },
      Some(s"""WITH arr AS (SELECT doc_id, text, length(text) AS L,
              |                    length(text) % 16 + 1 AS F
              |             FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0),
              |st AS (SELECT doc_id, text
              |       FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 <> 0),
              |ex AS (SELECT a.doc_id, min(s.doc_id) AS exact_of
              |       FROM arr a JOIN st s ON s.text = a.text
              |       GROUP BY a.doc_id),
              |ndp AS (SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id,
              |               CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS stored,
              |               hamming
              |        FROM ($videoNearDupSql)
              |        WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)),
              |nd AS (SELECT doc_id, stored AS near_of FROM (
              |         SELECT doc_id, stored,
              |                row_number() OVER (PARTITION BY doc_id
              |                                   ORDER BY hamming, stored) AS rn
              |         FROM ndp) WHERE rn = 1)
              |SELECT a.doc_id,
              |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
              |       WHEN n.near_of IS NOT NULL THEN 'near_dup'
              |       WHEN a.L // a.F = 0 THEN 'no_content'
              |       ELSE 'keep' END AS status,
              |  coalesce(e.exact_of, n.near_of) AS dup_of
              |FROM arr a
              |LEFT JOIN ex e ON e.doc_id = a.doc_id
              |LEFT JOIN nd n ON n.doc_id = a.doc_id
              |ORDER BY a.doc_id""".stripMargin),
    ),
    // Fingerprint-index health stats — the operational view of the
    // stored chunk table: per chunk position, bucket count, hottest
    // bucket, and the EXACT candidate-pair cost Σ s·(s−1)/2 the
    // self-join pays — the dial that says when the banding needs a
    // skew stop-key. All integer arithmetic, fully portable.
    Q(
      "mm_index_stats",
      (s, d) => {
        val pre = fullMediaIndex(s, d, "image")
        s.table(s"${pre}_chunks")
          .groupBy(graft.operators.Banding.ChunkKeys.map(col): _*)
          .agg(count(lit(1)).as("bucket_size"))
          .groupBy(col("chunk_idx"))
          .agg(
            count(lit(1)).as("n_buckets"),
            max(col("bucket_size")).as("max_bucket"),
            sum(expr("bucket_size * (bucket_size - 1) DIV 2")).as("candidate_pairs"),
          )
          .orderBy("chunk_idx")
      },
      Some(s"""WITH $dhashCtes,
              |b AS (SELECT chunk_idx, chunk_bits, count(*) AS s
              |      FROM cb GROUP BY chunk_idx, chunk_bits)
              |SELECT chunk_idx,
              |  CAST(count(*) AS BIGINT) AS n_buckets,
              |  CAST(max(s) AS BIGINT) AS max_bucket,
              |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
              |FROM b GROUP BY chunk_idx ORDER BY chunk_idx""".stripMargin),
    ),
    // The composed image CURATION pipeline — the per-item keep/reject
    // decision a media-training build makes, stages in cost order:
    // exact byte dedup (hash agg), perceptual near-dup clusters (banded
    // dHash + label-prop, keeper = component id), resolution floor
    // (width × height from the REAL parsed headers), else keep;
    // `dup_of` names the keeper for either dup reason. The oracle
    // composes the shared pair derivation's recursive closure with an
    // exact-duplicate partition over (text, container parity) — two
    // docs share payload BYTES iff their text and container type both
    // match — and the independent header-dimension formulas.
    Q(
      "mm_curation_pipeline",
      (s, d) => MultimodalOps.curationPipeline(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5, minPixels = 16384L),
      Some(curationSql),
    ),
    // The image curation verdict as an INDEX read — the corpus-scan
    // face above stays as the exact reference; this face composes the
    // IDENTICAL verdict from the persisted artifacts (`_meta` from one
    // decoded scan, `_clusters` from pairs read off the stored chunk
    // table) with two exchange-free bucketed doc_id joins. The
    // 100 TB accounting shape: a nightly verdict never re-fingerprints
    // the corpus. Bit-equal to the corpus-scan face; one oracle for
    // both.
    Q(
      "mm_index_curation",
      (s, d) => {
        val (floor, label) = MultimodalOps.imageFloor(16384L)
        graft.operators.MediaIndexOps.curationFromIndex(
          s, fullMediaIndex(s, d, "image"), floor, label)
      },
      Some(curationSql),
    ),
    // The VIDEO curation pipeline — the per-item keep/reject verdict
    // for the video stream: exact byte dedup, then perceptual clusters
    // over the min pairwise-frame hamming pairs, then the content
    // floor (a stream shorter than its frame count carries no
    // per-frame signal → `no_content`, the class the degenerate-frame
    // cut drops from every fingerprint face), else keep. Same
    // first-failing-stage priority and keeper contract as the image
    // face; all videos share one container family, so the exact
    // partition is the text alone.
    Q(
      "mm_curation_pipeline_video",
      (s, d) => MultimodalOps.curationPipelineVideo(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5),
      Some(curationVideoSql),
    ),
    // The video curation verdict as an INDEX read — two bucketed joins
    // against the persisted per-frame index's `_meta`/`_clusters`
    // artifacts (the clusters were label-propped at build time over the
    // min pairwise-frame pairs read off the stored chunk table).
    Q(
      "mm_index_curation_video",
      (s, d) => {
        val (floor, label) = MultimodalOps.videoFloor
        graft.operators.MediaIndexOps.curationFromIndex(
          s, fullMediaIndex(s, d, "video"), floor, label)
      },
      Some(curationVideoSql),
    ),
    // The AUDIO curation pipeline — completes the per-modality
    // triplet: exact byte dedup (audio payloads carry no container, so
    // the exact partition is the raw stream), perceptual clusters over
    // the single-stream fingerprints, and the signal floor (streams
    // shorter than one sample per region reject as `too_short` — the
    // dHash short-content hazard, cut instead of kept).
    Q(
      "mm_curation_pipeline_audio",
      (s, d) => MultimodalOps.curationPipelineAudio(
        MultimodalOps.encodeMedia(documents(s, d)),
        regions = 49, blockBands = 6, maxHamming = 5),
      Some(curationAudioSql),
    ),
    // The audio curation verdict as an INDEX read — same two bucketed
    // joins against the audio index's persisted artifacts.
    Q(
      "mm_index_curation_audio",
      (s, d) => {
        val (floor, label) = MultimodalOps.audioFloor(49)
        graft.operators.MediaIndexOps.curationFromIndex(
          s, fullMediaIndex(s, d, "audio"), floor, label)
      },
      Some(curationAudioSql),
    ),
    // ARTIFACT FRESHNESS under incremental ingest: the curation
    // verdict served from the GROWN index — seeded at 4/5 of the
    // corpus, the last fifth ingested batch-wise with
    // touched-component cluster maintenance — against the FULL-CORPUS
    // oracle. Freshness is the claim: if the incremental merge missed
    // a pair, served a stale component, or left a stored ex_keeper
    // unrelabeled, this face hash-mismatches the from-scratch truth
    // while mm_index_curation (the wholesale-rebuilt twin) still
    // passes.
    Q(
      "mm_index_grow_curation",
      (s, d) => {
        val (floor, label) = MultimodalOps.imageFloor(16384L)
        graft.operators.MediaIndexOps.curationFromIndex(
          s, grownMediaIndex(s, d), floor, label)
      },
      Some(curationSql),
    ),
    // The savings report over the grown index — the storage owner's
    // nightly number stays fresh between rebuilds too (same bucketed
    // `_clusters` ⋈ `_meta` read, same full-corpus oracle).
    Q(
      "mm_index_grow_savings",
      (s, d) => graft.operators.MediaIndexOps.savingsFromIndex(s, grownMediaIndex(s, d)),
      Some(dedupSavingsSql),
    ),
    // The AUDIO grown-index freshness pair: curation verdict + savings
    // served from the incrementally-grown audio index against the
    // FULL-CORPUS oracles — the single-stream modality's incremental
    // merge gets its own oracle-checked faces instead of riding the
    // image index's coverage.
    Q(
      "mm_index_grow_curation_audio",
      (s, d) => {
        val (floor, label) = MultimodalOps.audioFloor(49)
        graft.operators.MediaIndexOps.curationFromIndex(
          s, grownMediaIndex(s, d, "audio"), floor, label)
      },
      Some(curationAudioSql),
    ),
    Q(
      "mm_index_grow_savings_audio",
      (s, d) => graft.operators.MediaIndexOps.savingsFromIndex(
        s, grownMediaIndex(s, d, "audio")),
      Some(dedupSavingsAudioSql),
    ),
    // The VIDEO grown-index freshness pair — the hardest incremental
    // case: every pair the ingest merges is a MIN across frame-level
    // matches (per-frame chunk join, groupBy min), so a drifted
    // min-aggregation anywhere in the grow path hash-mismatches the
    // from-scratch per-frame truth here.
    Q(
      "mm_index_grow_curation_video",
      (s, d) => {
        val (floor, label) = MultimodalOps.videoFloor
        graft.operators.MediaIndexOps.curationFromIndex(
          s, grownMediaIndex(s, d, "video"), floor, label)
      },
      Some(curationVideoSql),
    ),
    Q(
      "mm_index_grow_savings_video",
      (s, d) => graft.operators.MediaIndexOps.savingsFromIndex(
        s, grownMediaIndex(s, d, "video")),
      Some(dedupSavingsVideoSql),
    ),
    // CROSS-MODAL text↔media screen — the remaining cross-modal arm
    // next to image↔video frame matching: which documents duplicate
    // content of a HELD media set (the image blocklist, doc_id % 10 =
    // 0) in the shared stub-embedding space. Sign-LSH banding shifted
    // to the orthant center (the stub space is strictly positive — raw
    // sign bits would all read 1), held side broadcast with its unit
    // vectors riding in the band rows, exact fold-dot verify inline —
    // the corpus side never shuffles. Threshold just under 1: stub
    // embeddings are payload hashes, so a match IS an exact-content
    // collision; a production encoder swap makes the same plan find
    // paraphrase-level matches.
    Q(
      "mm_text_media_screen",
      (s, d) => MultimodalOps.textMediaScreen(
        documents(s, d), threshold = 0.999,
        bands = Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7)), blockMod = 10),
      Some(textMediaScreenSqlFor(0)),
    ),
    // The AUDIO-held text↔media screen: the held blocklist is the audio
    // modality's doc_id % 10 = 0 slice — a held blocklist is
    // modality-agnostic in the shared embedding space (the
    // `textMediaScreenAgainst` split takes the held frame as a
    // parameter), so the identical broadcast-banded plan screens
    // documents against held audio.
    Q(
      "mm_text_media_screen_audio",
      (s, d) => MultimodalOps.textMediaScreen(
        documents(s, d), threshold = 0.999,
        bands = Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7)), blockMod = 10,
        heldType = "audio"),
      Some(textMediaScreenSqlFor(1)),
    ),
    // The VIDEO-held text↔media screen — the third held side, same plan.
    Q(
      "mm_text_media_screen_video",
      (s, d) => MultimodalOps.textMediaScreen(
        documents(s, d), threshold = 0.999,
        bands = Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7)), blockMod = 10,
        heldType = "video"),
      Some(textMediaScreenSqlFor(2)),
    ),
    // Aspect-ratio / resolution bucketing — the batch-formation step of
    // an image-training pipeline (pad each image up to the next 64-px
    // multiple, batch images that share a padded shape): dims PARSED
    // from the real container headers, snapped with integer arithmetic,
    // one hash aggregation on the (bucket_w, bucket_h) key. `pad_waste`
    // totals the padding pixels the bucketing costs — the quantity a
    // pipeline tunes its bucket granularity by.
    Q(
      "mm_aspect_bucket",
      (s, d) => {
        import org.apache.spark.sql.functions._
        def snap(c: org.apache.spark.sql.Column) = floor((c + 63) / 64) * 64
        MultimodalOps.decodeHeaderMeta(MultimodalOps.encodeMedia(documents(s, d)))
          .filter(col("media_type") === "image")
          .select(
            snap(col("width")).as("bucket_w"),
            snap(col("height")).as("bucket_h"),
            col("width"), col("height"),
          )
          .groupBy(col("bucket_w"), col("bucket_h"))
          .agg(
            count(lit(1)).as("n_images"),
            sum(col("bucket_w") * col("bucket_h") - col("width") * col("height"))
              .as("pad_waste"),
          )
          .orderBy("bucket_w", "bucket_h")
      },
      Some(s"""SELECT bucket_w, bucket_h, count(*) AS n_images,
              |  CAST(sum(bucket_w * bucket_h - width * height) AS BIGINT) AS pad_waste
              |FROM (SELECT ((width + 63) // 64) * 64 AS bucket_w,
              |             ((height + 63) // 64) * 64 AS bucket_h, width, height
              |      FROM (SELECT 64 + n_bytes % 512 AS width,
              |                   64 + (n_bytes * 31) % 512 AS height
              |            FROM ($mediaSql) WHERE media_type = 'image'))
              |GROUP BY bucket_w, bucket_h ORDER BY bucket_w, bucket_h""".stripMargin),
    ),
  )
}
