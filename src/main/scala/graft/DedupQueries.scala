package graft

import graft.operators.{DedupOps, LshIndexOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, expr, lit, max, sum}
import Tables.{documents, embeddings}
import OracleSnippets._

/** Deduplication queries over `documents`/`embeddings` (SURVEY.md §7.2
  * M4). The LSH pipelines are deterministic end-to-end (portable hash
  * family), so their oracles mirror the *whole pipeline* — bands,
  * buckets, candidate pairs, verify — not just the final answer shape.
  */
object DedupQueries {

  /** Word-3-gram shingles, 32-wide minhash in 8 bands × 4 rows
    * (collision threshold ≈ (1/8)^(1/4) ≈ 0.59), verify at jaccard ≥ 0.8.
    */
  private[graft] val N = 3
  private[graft] val K = 32
  private[graft] val Bands = 8
  private val RowsPerBand = K / Bands
  private[graft] val JaccardThreshold = 0.8

  /** 32-bit simhash, 4-chunk pigeonhole blocking, hamming ≤ 3 (exact:
    * 4 bands > 3 differing bits ⇒ ≥1 intact shared band).
    */
  private val SimBits = 32
  private val SimBands = 4
  private val MaxHamming = 3

  /** The synthetic embeddings have no true near-dups (max pairwise
    * cosine ≈ 0.55), so the "near-dup" cut is set where the distribution
    * has mass; the operator semantics are threshold-independent.
    */
  private val CosineThreshold = 0.4

  /** Sign-LSH bands for the bucketed embedding near-dup: 8 independent
    * 3-bit bands (8 buckets each) over the 64-dim embeddings — a pair is
    * a candidate iff it fully agrees on the signs of ≥1 band's dims.
    * Narrow bands + many bands favors recall at this threshold (sign
    * agreement per hyperplane ≈ 1 − θ/π).
    */
  private val EmbedBands: Seq[Seq[Int]] =
    (0 until 8).map(b => Seq(b * 8, b * 8 + 3, b * 8 + 6))

  /** CTE chain producing the LSH band-collision candidate pairs `cand`
    * (and the shingle-set CTE `sh` verifiers join) — shared by the
    * Jaccard-verified and edit-distance-verified pair oracles.
    */
  private val lshCandCtes: String =
    s"""sh AS (
       |  SELECT doc_id, ${shingleHashes("w")} AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |sg AS (SELECT doc_id, sh, ${minhashSig("sh", K)} AS sig FROM sh),
       |bx AS (SELECT doc_id, sig,
       |         unnest(generate_series(0, ${Bands - 1})) AS band_idx FROM sg),
       |bk AS (SELECT doc_id, band_idx,
       |         array_to_string(sig[band_idx*$RowsPerBand+1 : band_idx*$RowsPerBand+$RowsPerBand], '_') AS band_key
       |       FROM bx),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bk x JOIN bk y
       |           ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |          AND x.doc_id < y.doc_id)""".stripMargin

  /** Oracle for the minhash-LSH pair pipeline — shared by the pairs
    * query and the clusters query built on top of it.
    */
  private[graft] val minhashPairsSql: String =
    s"""WITH $lshCandCtes
       |SELECT c.doc_a, c.doc_b, ${jaccard("a.sh", "b.sh")} AS jaccard
       |FROM cand c
       |JOIN sh a ON a.doc_id = c.doc_a
       |JOIN sh b ON b.doc_id = c.doc_b
       |WHERE ${jaccard("a.sh", "b.sh")} >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The cluster fixpoint over the LSH pair pipeline as one recursive
    * closure — shared by the corpus-scan clustering face and the two
    * persisted-artifact reads (from-scratch and incrementally grown):
    * all three state the identical full-corpus truth.
    */
  private val lshClustersSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges)
       |SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |FROM nodes n JOIN reach r ON r.u = n.id
       |GROUP BY n.id ORDER BY doc_id""".stripMargin

  /** The FULL-CORPUS text LSH index + persisted cluster assignment, a
    * [[Tables.artifact]] every index read face shares (built eagerly in
    * Bench's un-timed setup so a one-time corpus build can never
    * masquerade as an index READ's steady-state cost). The
    * deliberately-incremental faces keep building their own: their
    * build IS the test.
    */
  private[graft] def fullLshIndex(s: SparkSession, d: String): String =
    Tables.artifact(s, "lsh", "full", d) { pre =>
      LshIndexOps.writeIndex(documents(s, d), N, K, Bands, buckets = 8, prefix = pre)
      LshIndexOps.writeClusters(s, pre, JaccardThreshold, buckets = 8)
    }

  /** The INCREMENTALLY-GROWN text index: seeded from the stored split
    * (doc_id % 5 ≠ 0) with its cluster AND `_meta` artifacts, then the
    * remaining fifth ingested through
    * [[LshIndexOps.ingestBatchAndMaintain]] (whose ledgered commit
    * appends the admitted docs' meta rows) — its read faces share the
    * FULL-CORPUS oracles, so a drifted incremental merge OR a meta
    * append invisible to the digest probe hash-mismatches the
    * from-scratch truth.
    */
  private[graft] def grownLshIndex(s: SparkSession, d: String): String =
    Tables.artifact(s, "lsh", "grown", d) { pre =>
      val docs = documents(s, d)
      val stored = docs.filter(col("doc_id") % 5 =!= 0)
      LshIndexOps.writeIndex(stored, N, K, Bands, buckets = 8, prefix = pre)
      LshIndexOps.writeMetaTable(stored, buckets = 8, prefix = pre)
      LshIndexOps.writeClusters(s, pre, JaccardThreshold, buckets = 8)
      LshIndexOps.ingestBatchAndMaintain(
        s, pre, docs.filter(col("doc_id") % 5 === 0), N, K, Bands,
        threshold = JaccardThreshold)
    }

  /** The STORED-SPLIT text index + meta (stored = doc_id % 5 ≠ 0) the
    * upload-verdict face probes — pre-built like the media admission
    * gate's split artifacts, so the timed query is the per-arrival
    * probe alone.
    */
  private[graft] def splitLshIndex(s: SparkSession, d: String): String =
    Tables.artifact(s, "lsh", "split", d) { pre =>
      val stored = documents(s, d).filter(col("doc_id") % 5 =!= 0)
      LshIndexOps.writeIndex(stored, N, K, Bands, buckets = 8, prefix = pre)
      LshIndexOps.writeMetaTable(stored, buckets = 8, prefix = pre)
    }

  /** Eager build of the shared text-index artifacts (no-op when built). */
  def prepareSharedArtifacts(s: SparkSession, d: String): Unit = {
    fullLshIndex(s, d)
    grownLshIndex(s, d)
    splitLshIndex(s, d)
    ()
  }

  val all: Seq[Q] = Seq(
    Q(
      "dd_exact",
      (s, d) => DedupOps.exactDedup(documents(s, d)),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin),
    ),
    Q(
      "dd_jaccard_pairs",
      (s, d) => DedupOps.jaccardPairs(documents(s, d), N, JaccardThreshold),
      Some(s"""WITH sh AS (
              |  SELECT doc_id, ${shingleHashes("w")} AS sh
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  ${jaccard("a.sh", "b.sh")} AS jaccard
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE ${jaccard("a.sh", "b.sh")} >= $JaccardThreshold
              |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    Q(
      "dd_minhash_lsh",
      (s, d) => DedupOps.minhashLshPairs(documents(s, d), N, K, Bands, JaccardThreshold),
      Some(minhashPairsSql),
    ),
    // MOSS-style winnowing-fingerprint pairs: LOCAL overlap (shared
    // spans of ≥ w+k−1 = 6 tokens guarantee a shared fingerprint) via a
    // posting-list equi-join on the fingerprint — finds the plagiarized-
    // paragraph shape that global set scores dilute. ≥ 10 shared minima.
    Q(
      "dd_winnow_pairs",
      (s, d) => DedupOps.winnowPairs(documents(s, d), k = 3, w = 4, minShared = 10),
      Some(s"""WITH hs AS (
              |  SELECT doc_id, ${OracleSnippets.shingleHashesOrdered("string_split(text, ' ')", 3)} AS hs
              |  FROM documents),
              |f AS (SELECT doc_id,
              |        unnest(list_distinct(list_transform(
              |          generate_series(1, greatest(len(hs)-3, 1)),
              |          wni -> list_min(hs[wni:wni+3])))) AS fingerprint
              |      FROM hs)
              |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
              |  CAST(count(*) AS BIGINT) AS n_shared
              |FROM f x JOIN f y
              |  ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
              |GROUP BY doc_a, doc_b
              |HAVING count(*) >= 10
              |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // The winnow detector with its hot-key dial engaged: fingerprints
    // whose posting list exceeds 16 docs are dropped before the
    // self-join (a fingerprint in m docs costs m(m−1)/2 join rows — a
    // boilerplate phrase is a quadratic hotspot, and its ubiquity is
    // exactly why it is not plagiarism evidence).
    Q(
      "dd_winnow_capped",
      (s, d) => DedupOps.winnowPairs(documents(s, d), k = 3, w = 4, minShared = 10,
        maxPostingLen = 16),
      Some(s"""WITH hs AS (
              |  SELECT doc_id, ${OracleSnippets.shingleHashesOrdered("string_split(text, ' ')", 3)} AS hs
              |  FROM documents),
              |f AS (SELECT doc_id,
              |        unnest(list_distinct(list_transform(
              |          generate_series(1, greatest(len(hs)-3, 1)),
              |          wni -> list_min(hs[wni:wni+3])))) AS fingerprint
              |      FROM hs),
              |pl AS (SELECT fingerprint FROM f GROUP BY fingerprint
              |       HAVING count(*) <= 16),
              |ff AS (SELECT f.doc_id, f.fingerprint FROM f JOIN pl USING (fingerprint))
              |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
              |  CAST(count(*) AS BIGINT) AS n_shared
              |FROM ff x JOIN ff y
              |  ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
              |GROUP BY doc_a, doc_b
              |HAVING count(*) >= 10
              |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // ASYMMETRIC containment over the same band candidates: the
    // partial-copy detector — a short doc quoted inside a long one is
    // invisible to symmetric Jaccard (union-diluted) but ≈1-contained.
    // Threshold 0.7 on either direction.
    Q(
      "dd_containment",
      (s, d) => DedupOps.containmentPairs(documents(s, d), N, K, Bands, threshold = 0.7),
      Some(s"""WITH $lshCandCtes
              |SELECT doc_a, doc_b, containment_a, containment_b FROM (
              |  SELECT c.doc_a, c.doc_b,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS containment_a,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) AS containment_b
              |  FROM cand c
              |  JOIN sh a ON a.doc_id = c.doc_a
              |  JOIN sh b ON b.doc_id = c.doc_b)
              |WHERE containment_a >= 0.7 OR containment_b >= 0.7
              |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // Character-level verify over the SAME band candidates: edit
    // distance ≤ 6 instead of token-set Jaccard — catches true re-edits
    // and drops bag-of-words coincidence (at this cut one jaccard-passing
    // pair with 8 inserted chars is excluded: a genuinely different,
    // stricter signal). Length-difference pre-filter is an exact bound.
    Q(
      "dd_edit_pairs",
      (s, d) => DedupOps.editDistancePairs(documents(s, d), N, K, Bands, maxEdits = 6),
      Some(s"""WITH $lshCandCtes
              |SELECT c.doc_a, c.doc_b,
              |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
              |FROM cand c
              |JOIN documents a ON a.doc_id = c.doc_a
              |JOIN documents b ON b.doc_id = c.doc_b
              |WHERE abs(length(a.text) - length(b.text)) <= 6
              |  AND levenshtein(a.text, b.text) <= 6
              |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // The PERSISTED-index read path (LshIndexOps): answer entirely from
    // the SHARED stored artifact (fullLshIndex, built once in the
    // un-timed setup like every index family) — the exchange-free
    // candidate self-join LshIndexSpec pins. Pairs are identical to
    // dd_minhash_lsh's, so they share its oracle.
    Q(
      "dd_index_pairs",
      (s, d) => LshIndexOps.nearDupPairs(s, fullLshIndex(s, d), JaccardThreshold),
      Some(minhashPairsSql),
    ),
    // The stop-band-key (skew) dial itself, applied: band buckets with
    // more than 2 members are excluded from candidate generation — the
    // bounded-recall concession that removes LSH's quadratic hot-key
    // term at corpus scale (a true pair is missed only if EVERY band
    // it collides on is hot). The oracle replays the cap over the same
    // band derivation.
    Q(
      "dd_index_pairs_capped",
      (s, d) => LshIndexOps.nearDupPairsCapped(
        s, fullLshIndex(s, d), JaccardThreshold, maxBucket = 2),
      Some(s"""WITH $lshCandCtes,
              |sz AS (SELECT band_idx, band_key, count(*) AS s
              |       FROM bk GROUP BY band_idx, band_key),
              |okb AS (SELECT b.doc_id, b.band_idx, b.band_key
              |        FROM bk b JOIN sz
              |          ON sz.band_idx = b.band_idx AND sz.band_key = b.band_key
              |         AND sz.s <= 2),
              |ccand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              |          FROM okb x JOIN okb y
              |            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              |           AND x.doc_id < y.doc_id)
              |SELECT c.doc_a, c.doc_b, ${jaccard("a.sh", "b.sh")} AS jaccard
              |FROM ccand c
              |JOIN sh a ON a.doc_id = c.doc_a
              |JOIN sh b ON b.doc_id = c.doc_b
              |WHERE ${jaccard("a.sh", "b.sh")} >= $JaccardThreshold
              |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // Index health stats — the operational view of the persisted band
    // table: per band, bucket count, the hottest bucket, and the EXACT
    // candidate-pair cost Σ s·(s−1)/2 the self-join will pay. This is
    // the number that tells an operator when a stop-band-key (skew)
    // dial is needed — all integer arithmetic, fully portable.
    Q(
      "dd_index_stats",
      (s, d) =>
        s.table(s"${fullLshIndex(s, d)}_bands")
          .groupBy(col("band_idx"), col("band_key"))
          .agg(count(lit(1)).as("bucket_size"))
          .groupBy(col("band_idx"))
          .agg(
            count(lit(1)).as("n_buckets"),
            max(col("bucket_size")).as("max_bucket"),
            sum(expr("bucket_size * (bucket_size - 1) DIV 2")).as("candidate_pairs"),
          )
          .orderBy("band_idx"),
      Some(s"""WITH $lshCandCtes,
              |b AS (SELECT band_idx, band_key, count(*) AS s
              |      FROM bk GROUP BY band_idx, band_key)
              |SELECT band_idx,
              |  CAST(count(*) AS BIGINT) AS n_buckets,
              |  CAST(max(s) AS BIGINT) AS max_bucket,
              |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
              |FROM b GROUP BY band_idx ORDER BY band_idx""".stripMargin),
    ),
    // Incremental dedup against the persisted index: docs with
    // doc_id % 5 == 0 arrive as the "new batch", the rest are the
    // indexed corpus; batch band keys join the STORED band table
    // (bucketed side never shuffles) and verify against STORED shingle
    // sets — stored text is never re-read. The oracle replays the same
    // split over the full hash pipeline.
    Q(
      "dd_index_incremental",
      (s, d) => {
        val docs = documents(s, d)
        val pre = Tables.tempIndexDb(s, "lsh", "incr")
        LshIndexOps.writeIndex(
          docs.filter(col("doc_id") % 5 =!= 0), N, K, Bands,
          buckets = 8, prefix = pre)
        LshIndexOps.dedupAgainstIndex(
          s, pre, docs.filter(col("doc_id") % 5 === 0),
          N, K, Bands, JaccardThreshold)
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, ${shingleHashes("w")} AS sh
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
              |sg AS (SELECT doc_id, sh, ${minhashSig("sh", K)} AS sig FROM sh),
              |bx AS (SELECT doc_id, sig,
              |         unnest(generate_series(0, ${Bands - 1})) AS band_idx FROM sg),
              |bk AS (SELECT doc_id, band_idx,
              |         array_to_string(sig[band_idx*$RowsPerBand+1 : band_idx*$RowsPerBand+$RowsPerBand], '_') AS band_key
              |       FROM bx),
              |cand AS (SELECT DISTINCT x.doc_id AS new_doc_id, y.doc_id AS dup_of
              |         FROM bk x JOIN bk y
              |           ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              |          AND x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0)
              |SELECT c.new_doc_id, c.dup_of, ${jaccard("a.sh", "b.sh")} AS jaccard
              |FROM cand c
              |JOIN sh a ON a.doc_id = c.new_doc_id
              |JOIN sh b ON b.doc_id = c.dup_of
              |WHERE ${jaccard("a.sh", "b.sh")} >= $JaccardThreshold
              |ORDER BY new_doc_id, dup_of""".stripMargin),
    ),
    // Pairs → clusters: connected components over the LSH near-dup
    // pairs; component id = min doc_id of the cluster (the keeper).
    // Spark side iterates label propagation to the fixpoint; the oracle
    // states the same fixpoint as a recursive transitive closure.
    Q(
      "dd_dedup_clusters",
      (s, d) =>
        DedupOps.connectedComponents(
          DedupOps.minhashLshPairs(documents(s, d), N, K, Bands, JaccardThreshold),
        ),
      Some(lshClustersSql),
    ),
    // The cluster assignment as a PERSISTED-artifact read — label-prop
    // ran ONCE at index build (the nightly cadence); a read costs a
    // bucket scan. Same fixpoint oracle as the corpus-scan face.
    Q(
      "dd_index_clusters",
      (s, d) => LshIndexOps.clustersFromIndex(s, fullLshIndex(s, d)),
      Some(lshClustersSql),
    ),
    // ARTIFACT FRESHNESS under incremental text ingest: the cluster
    // assignment served from the GROWN index — seeded at 4/5 of the
    // corpus, the last fifth ingested batch-wise through
    // LshIndexOps.ingestBatchAndMaintain's touched-component merge —
    // against the FULL-CORPUS oracle. A missed pair or stale component
    // hash-mismatches the from-scratch truth while dd_index_clusters
    // (the wholesale-rebuilt twin) still passes.
    Q(
      "dd_index_grow_clusters",
      (s, d) => LshIndexOps.clustersFromIndex(s, grownLshIndex(s, d)),
      Some(lshClustersSql),
    ),
    // The UPLOAD-TIME admission verdict for TEXT — the media admission
    // gate's discipline on the document corpus: each arriving doc
    // (doc_id % 5 = 0) is judged against the STORED corpus's artifacts
    // only — exact_dup by digest probe against the stored `_meta`,
    // near_dup by the banded probe against the stored band table with
    // a deterministic (jaccard DESC, doc_id) arg-max naming dup_of,
    // then the token floor (the tx_quality keep-rule's lower bound,
    // n_tok < 20 → too_short), else keep. Read-only on the index; the
    // split artifacts are pre-built shared state, so the timed query
    // is the per-arrival probe alone. The oracle replays the exact
    // match as text equality across the split, the near match as the
    // pair derivation's cross pairs with a row_number arg-max, and the
    // floor from the independent token count.
    Q(
      "dd_index_upload_verdict",
      (s, d) => LshIndexOps.uploadVerdict(
        s, splitLshIndex(s, d), documents(s, d).filter(col("doc_id") % 5 === 0),
        N, K, Bands, JaccardThreshold, minTok = 20L),
      Some(s"""WITH arr AS (SELECT doc_id, text,
              |               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              |             FROM documents WHERE doc_id % 5 = 0),
              |st AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
              |ex AS (SELECT a.doc_id, min(s.doc_id) AS exact_of
              |       FROM arr a JOIN st s ON s.text = a.text
              |       GROUP BY a.doc_id),
              |ndp AS (SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id,
              |               CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS stored,
              |               jaccard
              |        FROM ($minhashPairsSql)
              |        WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)),
              |nd AS (SELECT doc_id, stored AS near_of FROM (
              |         SELECT doc_id, stored,
              |                row_number() OVER (PARTITION BY doc_id
              |                                   ORDER BY jaccard DESC, stored) AS rn
              |         FROM ndp) WHERE rn = 1)
              |SELECT a.doc_id,
              |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
              |       WHEN n.near_of IS NOT NULL THEN 'near_dup'
              |       WHEN a.n < 20 THEN 'too_short'
              |       ELSE 'keep' END AS status,
              |  coalesce(e.exact_of, n.near_of) AS dup_of
              |FROM arr a
              |LEFT JOIN ex e ON e.doc_id = a.doc_id
              |LEFT JOIN nd n ON n.doc_id = a.doc_id
              |ORDER BY a.doc_id""".stripMargin),
    ),
    // The admission gate CLOSED over the GROWN index: the same
    // per-arrival probe run against [[grownLshIndex]] — stored corpus
    // = the 4/5 seed ∪ the incrementally-ingested fifth, whose meta
    // rows were appended under the ledgered commit. Every arrival is a
    // re-upload of an already-ingested doc, so the digest probe must
    // label it exact_dup with dup_of = the corpus-wide min doc_id
    // holding its text: an ingest whose meta append was lost, doubled,
    // or invisible to the probe hash-mismatches here — the end-to-end
    // oracle check of what the crash-repair specs pin in isolation.
    Q(
      "dd_index_upload_verdict_grown",
      (s, d) => LshIndexOps.uploadVerdict(
        s, grownLshIndex(s, d), documents(s, d).filter(col("doc_id") % 5 === 0),
        N, K, Bands, JaccardThreshold, minTok = 20L),
      Some("""WITH arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |ex AS (SELECT a.doc_id, min(s.doc_id) AS dup_of
             |       FROM arr a JOIN documents s ON s.text = a.text
             |       GROUP BY a.doc_id)
             |SELECT doc_id, 'exact_dup' AS status, dup_of
             |FROM ex ORDER BY doc_id""".stripMargin),
    ),
    // The same pairs→clusters fixpoint via alternating large-star /
    // small-star contraction — the O(log n)-round billion-edge path
    // (label propagation above is O(diameter) rounds). Same oracle: the
    // two algorithms provably share the fixpoint (min-id labeling).
    Q(
      "dd_dedup_clusters_stars",
      (s, d) =>
        DedupOps.connectedComponentsStars(
          DedupOps.minhashLshPairs(documents(s, d), N, K, Bands, JaccardThreshold),
        ),
      Some(s"""WITH RECURSIVE
              |p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT u, v FROM edges
              |          UNION
              |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |nodes AS (SELECT DISTINCT u AS id FROM edges)
              |SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
              |FROM nodes n JOIN reach r ON r.u = n.id
              |GROUP BY n.id ORDER BY doc_id""".stripMargin),
    ),
    // Dedup savings report: per source, corpus size before/after EXACT
    // dedup (keeper = min doc_id per text, charged to the keeper's own
    // source — a cross-source duplicate's savings land where its copies
    // were dropped). One text-key shuffle + a keeper flag join; the
    // "how much does dedup buy" number a pipeline owner reads first.
    Q(
      "dd_effective_size",
      (s, d) => {
        val docs = documents(s, d)
        val keepers = docs
          .groupBy(col("text"))
          .agg(expr("min(doc_id)").as("doc_id"))
          .select(col("doc_id"), lit(true).as("kept"))
        docs
          .join(keepers, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(expr("CASE WHEN kept THEN 1 ELSE 0 END")).as("n_kept"),
            sum(col("n_chars")).as("n_chars"),
            sum(expr("CASE WHEN kept THEN n_chars ELSE 0 END")).as("chars_kept"),
          )
          .orderBy("source")
      },
      Some("""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
             |SELECT d.source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
             |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)
             |       AS BIGINT) AS chars_kept
             |FROM documents d LEFT JOIN k ON k.doc_id = d.doc_id
             |GROUP BY d.source ORDER BY d.source""".stripMargin),
    ),
    // Fuzzy decontamination: two-table LSH join — corpus docs
    // near-duplicate to any benchmark doc (doc_id % 10 = 0 stands in
    // for the eval set). Catches paraphrase-level leakage the exact
    // n-gram filter (tx_contamination) misses; verdict is total over
    // the corpus side.
    Q(
      "dd_contamination_lsh",
      (s, d) =>
        DedupOps.lshContamination(
          documents(s, d), col("doc_id") % 10 === 0, N, K, Bands, JaccardThreshold),
      Some(s"""WITH sh AS (
              |  SELECT doc_id, ${shingleHashes("w")} AS sh
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
              |sg AS (SELECT doc_id, sh, ${minhashSig("sh", K)} AS sig FROM sh),
              |bx AS (SELECT doc_id, sig,
              |         unnest(generate_series(0, ${Bands - 1})) AS band_idx FROM sg),
              |bk AS (SELECT doc_id, band_idx,
              |         array_to_string(sig[band_idx*$RowsPerBand+1 : band_idx*$RowsPerBand+$RowsPerBand], '_') AS band_key
              |       FROM bx),
              |cand AS (SELECT DISTINCT x.doc_id, y.doc_id AS bench_id
              |         FROM bk x JOIN bk y
              |           ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              |         WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0),
              |ver AS (SELECT c.doc_id, ${jaccard("a.sh", "b.sh")} AS jac
              |        FROM cand c
              |        JOIN sh a ON a.doc_id = c.doc_id
              |        JOIN sh b ON b.doc_id = c.bench_id
              |        WHERE ${jaccard("a.sh", "b.sh")} >= $JaccardThreshold),
              |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
              |                max(jac) AS max_jaccard
              |         FROM ver GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(h.n_bench_matches, 0) AS n_bench_matches,
              |  coalesce(h.max_jaccard, 0.0) AS max_jaccard,
              |  coalesce(h.n_bench_matches, 0) > 0 AS contaminated
              |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
              |WHERE d.doc_id % 10 <> 0
              |ORDER BY d.doc_id""".stripMargin),
    ),
    // SEMANTIC decontamination — the embedding-space member of the
    // contamination family (exact n-gram tx_contamination → fuzzy LSH
    // dd_contamination_lsh → this): corpus vectors whose cosine to any
    // benchmark vector (vec_id % 10 = 0) reaches the threshold are
    // paraphrase-level leakage no lexical filter sees. Sign-LSH band
    // buckets, CROSS-TABLE candidate equi-join (benchmark × corpus,
    // never corpus²), exact fold-dot verify, total verdict per corpus
    // vector.
    Q(
      "dd_contamination_semantic",
      (s, d) => DedupOps.semanticContamination(embeddings(s, d), CosineThreshold, EmbedBands),
      Some {
        val bandSelects = EmbedBands.zipWithIndex
          .map { case (dims, i) =>
            s"  SELECT vec_id, $i AS band_idx, ${signBucket("embedding", dims)} AS bucket FROM embeddings"
          }
          .mkString("\nUNION ALL\n")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |n AS (SELECT vec_id, ${unitNorm("e")} AS u FROM v),
           |bb AS (
           |$bandSelects
           |),
           |cand AS (SELECT DISTINCT x.vec_id AS bench_id, y.vec_id
           |         FROM bb x JOIN bb y
           |           ON x.band_idx = y.band_idx AND x.bucket = y.bucket
           |         WHERE x.vec_id % 10 = 0 AND y.vec_id % 10 <> 0),
           |ver AS (SELECT c.vec_id, ${dot("a.u", "b.u")} AS cosine
           |        FROM cand c
           |        JOIN n a ON a.vec_id = c.bench_id
           |        JOIN n b ON b.vec_id = c.vec_id
           |        WHERE ${dot("a.u", "b.u")} >= $CosineThreshold),
           |hits AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
           |                max(cosine) AS max_cosine
           |         FROM ver GROUP BY vec_id)
           |SELECT e.vec_id, coalesce(h.n_bench_matches, 0) AS n_bench_matches,
           |  coalesce(h.max_cosine, 0.0) AS max_cosine,
           |  coalesce(h.n_bench_matches, 0) > 0 AS contaminated
           |FROM embeddings e LEFT JOIN hits h ON h.vec_id = e.vec_id
           |WHERE e.vec_id % 10 <> 0
           |ORDER BY e.vec_id""".stripMargin
      },
    ),
    // Cross-source near-dup leakage matrix: the LSH pair set rolled up
    // by unordered source pair — where duplication crosses source
    // boundaries (inter-source contamination) vs stays within one
    // source (crawl self-duplication). Two broadcast-scale joins of the
    // pair list back to (doc_id, source); at 100 TB the pair list is
    // the LSH output, never all-pairs, so the matrix costs two
    // narrow-key probes over it.
    Q(
      "dd_cross_source",
      (s, d) => {
        val pairs = DedupOps
          .minhashLshPairs(documents(s, d), N, K, Bands, JaccardThreshold)
          .select(col("doc_a"), col("doc_b"))
        val src = documents(s, d).select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
          .select(
            org.apache.spark.sql.functions.least(col("sa"), col("sb")).as("src_a"),
            org.apache.spark.sql.functions.greatest(col("sa"), col("sb")).as("src_b"),
          )
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |s AS (SELECT doc_id, source FROM documents)
              |SELECT least(a.source, b.source) AS src_a,
              |       greatest(a.source, b.source) AS src_b,
              |       count(*) AS n_pairs
              |FROM p JOIN s a ON a.doc_id = p.doc_a
              |       JOIN s b ON b.doc_id = p.doc_b
              |GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin),
    ),
    // Dedup → mix COMPOSITION: the token-budget mixing plan computed
    // over the DEDUPED corpus (LSH cluster keepers only) — the order a
    // real pipeline runs them in, because budgeting the raw corpus
    // double-counts every duplicate family's tokens and then
    // over-suppresses the sources that were merely duplicated. One
    // left join of the keeper labeling onto the corpus, then the
    // integer-quantized budget arithmetic of tx_mix_budget unchanged.
    Q(
      "dd_dedup_mix",
      (s, d) => {
        val docs = documents(s, d)
        val clusters = DedupOps.connectedComponents(
          DedupOps.minhashLshPairs(docs, N, K, Bands, JaccardThreshold),
        )
        val kept = docs
          .join(clusters, Seq("doc_id"), "left")
          .filter(col("component").isNull || col("component") === col("doc_id"))
        graft.operators.TextOps.mixByTokenBudget(kept, perSourceBudget = 500L, buckets = 10)
      },
      Some(s"""WITH RECURSIVE
              |p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT u, v FROM edges
              |          UNION
              |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |nodes AS (SELECT DISTINCT u AS id FROM edges),
              |comp AS (
              |  SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
              |  FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
              |tok AS (
              |  SELECT d.source, d.text,
              |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
              |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
              |  WHERE c.component IS NULL OR c.component = d.doc_id),
              |rate AS (
              |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              |    CAST(least(10, (500*10)//sum(n_tok)) AS BIGINT) AS keep_buckets
              |  FROM tok GROUP BY source),
              |kept AS (
              |  SELECT t.source, count(*) AS n_docs_kept,
              |    CAST(sum(t.n_tok) AS BIGINT) AS tokens_kept
              |  FROM tok t JOIN rate r ON t.source = r.source
              |  WHERE ${OracleSnippets.charHash("t.text")} % 10 < r.keep_buckets
              |  GROUP BY t.source)
              |SELECT r.source AS source, total_tokens, keep_buckets,
              |  coalesce(n_docs_kept, 0) AS n_docs_kept,
              |  coalesce(tokens_kept, 0) AS tokens_kept
              |FROM rate r LEFT JOIN kept k ON r.source = k.source
              |ORDER BY source""".stripMargin),
    ),
    // Cluster-size histogram — the dedup health report (how much of
    // the corpus is duplicated, and in how big clumps): component sizes
    // from the same label-propagation fixpoint, rolled into (size →
    // n_clusters). Two tiny aggregates on top of the cluster frame.
    Q(
      "dd_cluster_stats",
      (s, d) =>
        DedupOps
          .connectedComponents(
            DedupOps.minhashLshPairs(documents(s, d), N, K, Bands, JaccardThreshold),
          )
          .groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .orderBy("cluster_size"),
      Some(s"""WITH RECURSIVE
              |p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT u, v FROM edges
              |          UNION
              |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |nodes AS (SELECT DISTINCT u AS id FROM edges),
              |comp AS (SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
              |         FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
              |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
              |       FROM comp GROUP BY component)
              |SELECT cluster_size, count(*) AS n_clusters
              |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    ),
    // The dedup ACTION step: clusters → per-document keep/drop verdict
    // (keeper = the component minimum; unclustered docs keep
    // themselves). This is the list a curation pipeline actually
    // applies — corpus LEFT JOIN clusters, one broadcast-or-SMJ on
    // doc_id at any scale.
    Q(
      "dd_keep_list",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val clusters = DedupOps.connectedComponents(
          DedupOps.minhashLshPairs(documents(s, d), N, K, Bands, JaccardThreshold),
        )
        documents(s, d)
          .select(col("doc_id"))
          .join(clusters, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            (col("component").isNull || col("component") === col("doc_id")).as("keep"),
          )
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              |p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT u, v FROM edges
              |          UNION
              |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |nodes AS (SELECT DISTINCT u AS id FROM edges),
              |comp AS (
              |  SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
              |  FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id)
              |SELECT d.doc_id,
              |  (comp.component IS NULL OR comp.component = d.doc_id) AS keep
              |FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
              |ORDER BY d.doc_id""".stripMargin),
    ),
    // Recall adjudication: the LSH pipeline's found pairs vs the exact
    // PPJoin ground truth, as one scoreboard row — the quality metric a
    // pipeline owner tracks when tuning bands/rows. LSH output is
    // provably a subset of exact (same verify threshold), so n_hits =
    // n_lsh and recall isolates band-collision coverage. The full-outer
    // join also *asserts* the subset property: any LSH-only pair would
    // make n_hits < n_lsh.
    Q(
      "dd_lsh_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        // One shingle-set artifact feeds BOTH arms — the exact PPJoin
        // ground truth and the LSH pipeline — instead of re-shingling
        // the corpus per arm.
        val sets = DedupOps.shingleSets(documents(s, d), N)
        val exact = DedupOps
          .jaccardPairsFrom(sets, JaccardThreshold)
          .select(col("doc_a"), col("doc_b"), lit(1).as("in_exact"))
        val lsh = DedupOps
          .minhashLshPairsFrom(sets, K, Bands, JaccardThreshold)
          .select(col("doc_a"), col("doc_b"), lit(1).as("in_lsh"))
        exact
          .join(lsh, Seq("doc_a", "doc_b"), "full_outer")
          .agg(
            count(col("in_exact")).as("n_true"),
            count(col("in_lsh")).as("n_lsh"),
            count(when(col("in_exact").isNotNull && col("in_lsh").isNotNull, 1)).as("n_hits"),
          )
          .select(
            col("n_true"),
            col("n_lsh"),
            col("n_hits"),
            (col("n_hits").cast("double") / col("n_true")).as("recall"),
          )
      },
      Some(s"""WITH shr AS (
              |  SELECT doc_id, ${shingleHashes("w")} AS sh
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
              |ex AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              |       FROM shr a JOIN shr b ON a.doc_id < b.doc_id
              |       WHERE ${jaccard("a.sh", "b.sh")} >= $JaccardThreshold),
              |ls AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |j AS (SELECT e.doc_a AS ea, l.doc_a AS la
              |      FROM ex e FULL OUTER JOIN ls l
              |        ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
              |SELECT CAST(count(ea) AS BIGINT) AS n_true,
              |  CAST(count(la) AS BIGINT) AS n_lsh,
              |  CAST(count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL THEN 1 END) AS BIGINT) AS n_hits,
              |  CAST(count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL THEN 1 END) AS DOUBLE)
              |    / count(ea) AS recall
              |FROM j""".stripMargin),
    ),
    Q(
      "dd_simhash",
      (s, d) => DedupOps.simhashFingerprints(documents(s, d), SimBits),
      Some(s"""SELECT doc_id, ${simhash("string_split(text, ' ')", SimBits)} AS simhash
              |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    Q(
      "dd_simhash_pairs",
      (s, d) => DedupOps.simhashPairs(documents(s, d), SimBits, SimBands, MaxHamming),
      Some {
        val chunkBits = SimBits / SimBands
        s"""WITH fp AS (
           |  SELECT doc_id, ${simhash("string_split(text, ' ')", SimBits)} AS simhash
           |  FROM documents),
           |ck AS (SELECT doc_id, simhash,
           |         unnest(generate_series(0, ${SimBands - 1})) AS chunk_idx FROM fp),
           |cb AS (SELECT doc_id, simhash, chunk_idx,
           |         CAST(floor(simhash / power(2, chunk_idx*$chunkBits)) AS BIGINT) % ${1L << chunkBits} AS chunk_bits
           |       FROM ck)
           |SELECT doc_a, doc_b, hamming FROM (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |    bit_count(xor(x.simhash, y.simhash)) AS hamming
           |  FROM cb x JOIN cb y
           |    ON x.chunk_idx = y.chunk_idx AND x.chunk_bits = y.chunk_bits
           |   AND x.doc_id < y.doc_id)
           |WHERE hamming <= $MaxHamming
           |ORDER BY doc_a, doc_b""".stripMargin
      },
    ),
    // Group-level minhash sketch: element-wise min of per-doc signatures
    // = the minhash of the UNION of the group's shingle sets, so whole
    // sources compare by Jaccard without re-reading documents. Mergeable
    // (any combine tree gives the same mins) — the map-side-combinable
    // corpus sketch. Typed-API twin: MinHashUnionAggregator (asserted
    // equal in tests); this declarative form is the oracle-checked one.
    Q(
      "dd_source_sketch",
      (s, d) => {
        import org.apache.spark.sql.functions._
        documents(s, d)
          .select(
            col("source"),
            posexplode(
              graft.expressions.SketchColumns
                .minHashSig(graft.expressions.SketchColumns.shingleHashes(col("text"), N), K),
            ).as(Seq("i", "sig_i")),
          )
          .groupBy(col("source"), col("i"))
          .agg(min(col("sig_i")).as("sig_min"))
          .orderBy("source", "i")
      },
      Some(s"""WITH sg AS (
              |  SELECT source, ${minhashSig("sh", K)} AS sig
              |  FROM (SELECT source, ${shingleHashes("w")} AS sh
              |        FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
              |ex AS (SELECT source, unnest(generate_series(0, ${K - 1})) AS i, sig FROM sg)
              |SELECT source, i, min(sig[i+1]) AS sig_min
              |FROM ex GROUP BY source, i ORDER BY source, i""".stripMargin),
    ),
    // Canonical embedding near-dup = the sign-LSH bucketed formulation
    // (equi-join on (band_idx, bucket) + exact cosine verify — the 100 TB
    // plan; no BroadcastNestedLoopJoin, asserted in DedupSpec). The
    // all-pairs form survives only as the recall baseline in tests. The
    // oracle mirrors the bucketing itself, band by band.
    Q(
      "dd_embed_neardup",
      (s, d) => DedupOps.embeddingNearDupPairsBucketed(embeddings(s, d), CosineThreshold, EmbedBands),
      Some {
        val bandSelects = EmbedBands.zipWithIndex
          .map { case (dims, i) =>
            s"  SELECT vec_id, $i AS band_idx, ${signBucket("embedding", dims)} AS bucket FROM embeddings"
          }
          .mkString("\nUNION ALL\n")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |n AS (SELECT vec_id, ${unitNorm("e")} AS u FROM v),
           |bb AS (
           |$bandSelects
           |),
           |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |         FROM bb x JOIN bb y
           |           ON x.band_idx = y.band_idx AND x.bucket = y.bucket
           |          AND x.vec_id < y.vec_id)
           |SELECT vec_a, vec_b, cosine FROM (
           |  SELECT c.vec_a, c.vec_b, ${dot("a.u", "b.u")} AS cosine
           |  FROM cand c
           |  JOIN n a ON a.vec_id = c.vec_a
           |  JOIN n b ON b.vec_id = c.vec_b)
           |WHERE cosine >= $CosineThreshold
           |ORDER BY vec_a, vec_b""".stripMargin
      },
    ),

    // Semantic dedup (SemDeDup): within each coarse cluster cell (label
    // stands in for the k-means assignment sim_kmeans_step trains), drop
    // vectors with a lower-id cell-mate at cosine ≥ threshold. The pair
    // space is per-cell only — the clustering bounds the quadratic
    // verify, which is the whole SemDeDup recipe.
    Q(
      "dd_semantic",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        DedupOps.semanticDedup(embeddings(s, d), col("label"), CosineThreshold)
      },
      Some(s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |n AS (SELECT vec_id, label, ${unitNorm("e")} AS u FROM v),
              |p AS (SELECT b.vec_id AS vec_id, a.vec_id AS kept,
              |        ${dot("a.u", "b.u")} AS cosine
              |      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
              |SELECT vec_id, min(kept) AS kept_by, CAST(count(*) AS BIGINT) AS n_dups
              |FROM p WHERE cosine >= $CosineThreshold
              |GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    ),

    // Near-dup-aware train/val split: split assignment hashes the LSH
    // near-dup CLUSTER id (own id when unclustered), so near-copies
    // never straddle the boundary — the data-leakage guard an eval
    // pipeline needs. Portable multiplicative hash, 8/10 buckets train.
    Q(
      "dd_split",
      (s, d) => {
        val docs = documents(s, d)
        DedupOps.nearDupAwareSplit(
          docs,
          DedupOps.connectedComponents(
            DedupOps.minhashLshPairs(docs, N, K, Bands, JaccardThreshold),
          ),
          trainBuckets = 8,
          buckets = 10,
        )
      },
      Some(s"""WITH RECURSIVE
              |p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT u, v FROM edges
              |          UNION
              |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |nodes AS (SELECT DISTINCT u AS id FROM edges),
              |comp AS (SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
              |         FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
              |sk AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key
              |       FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
              |SELECT doc_id, split_key,
              |  (((split_key % 2147483647) * 2654435761) % 2147483647) % 10 AS bucket,
              |  CASE WHEN (((split_key % 2147483647) * 2654435761) % 2147483647) % 10 < 8
              |       THEN 'train' ELSE 'val' END AS split
              |FROM sk ORDER BY doc_id""".stripMargin),
    ),

    // Exact substring-duplication fraction (span-level dedup signal):
    // positional 5-gram shingle hashes, a shingle is "duplicated" iff it
    // appears in ≥2 distinct documents. Counts are exact integers; the
    // final ratio is one double division of two exactly-representable
    // longs — bit-equal on both engines.
    Q(
      "dd_dup_ngrams",
      (s, d) => DedupOps.dupNgramStats(documents(s, d), 5),
      Some(s"""WITH sh AS (
              |  SELECT doc_id,
              |    unnest(${shingleHashesOrdered("string_split(text, ' ')", 5)}) AS h
              |  FROM documents),
              |per AS (SELECT doc_id, h, count(*) AS cnt FROM sh GROUP BY doc_id, h),
              |tagged AS (SELECT doc_id, h, cnt,
              |                  count(*) OVER (PARTITION BY h) AS n_docs FROM per)
              |SELECT doc_id,
              |  CAST(sum(cnt) AS BIGINT) AS n_shingles,
              |  CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup,
              |  CAST(CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS DOUBLE)
              |    / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) AS dup_fraction
              |FROM tagged GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),

    // Maximal duplicated-substring spans (exact substring dedup's
    // actionable output): positional 5-gram hashes seen in ≥2 distinct
    // docs, consecutive duplicated positions merged gaps-and-islands
    // style into [span_start, span_end] token ranges (≥3 consecutive
    // 5-grams ⇒ ≥7 cuttable tokens). Where dd_dup_ngrams says how much
    // of a doc is duplicated, this says exactly where to cut.
    Q(
      "dd_dup_spans",
      (s, d) => DedupOps.dupSpans(documents(s, d), n = 5, minGrams = 3),
      Some(s"""WITH sh AS (
              |  SELECT doc_id,
              |    ${shingleHashesOrdered("string_split(text, ' ')", 5)} AS hs
              |  FROM documents),
              |px AS (SELECT doc_id, unnest(hs) AS h,
              |         generate_subscripts(hs, 1) - 1 AS pos FROM sh),
              |dup AS (SELECT h FROM (SELECT h, doc_id FROM px GROUP BY h, doc_id)
              |        GROUP BY h HAVING count(*) >= 2),
              |dp AS (SELECT p.doc_id, p.pos FROM px p JOIN dup d USING (h)),
              |isl AS (SELECT doc_id, pos,
              |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              |        FROM dp),
              |ag AS (SELECT doc_id, grp, min(pos) AS span_start, max(pos) AS last_gram,
              |         count(*) AS n_grams FROM isl GROUP BY doc_id, grp)
              |SELECT doc_id,
              |  CAST(span_start AS BIGINT) AS span_start,
              |  CAST(last_gram + 4 AS BIGINT) AS span_end,
              |  CAST(last_gram + 5 - span_start AS BIGINT) AS span_tokens,
              |  CAST(n_grams AS BIGINT) AS n_grams
              |FROM ag WHERE n_grams >= 3 ORDER BY doc_id, span_start""".stripMargin),
    ),

    // Quality-aware keeper: same clusters as dd_keep_list, but each
    // cluster keeps its highest-token-count member (tie → min doc_id)
    // instead of the min id — the policy that retains the longest copy
    // of boilerplate families. Token count is the quality stand-in; any
    // deterministic score column slots in.
    Q(
      "dd_keep_best",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val docs = documents(s, d)
        val clusters = DedupOps.connectedComponents(
          DedupOps.minhashLshPairs(docs, N, K, Bands, JaccardThreshold),
        )
        DedupOps.keepBest(docs, clusters, size(split(col("text"), " ")).cast("long"))
      },
      Some(s"""WITH RECURSIVE
              |p AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
              |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT u, v FROM edges
              |          UNION
              |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |nodes AS (SELECT DISTINCT u AS id FROM edges),
              |comp AS (
              |  SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
              |  FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
              |qual AS (SELECT doc_id,
              |           CAST(len(string_split(text, ' ')) AS BIGINT) AS q
              |         FROM documents),
              |ranked AS (
              |  SELECT c.doc_id,
              |    row_number() OVER (PARTITION BY c.component
              |                       ORDER BY q.q DESC, c.doc_id) AS rn
              |  FROM comp c JOIN qual q ON c.doc_id = q.doc_id)
              |SELECT d.doc_id, coalesce(r.rn = 1, TRUE) AS keep
              |FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
              |ORDER BY d.doc_id""".stripMargin),
    ),
  )
}
