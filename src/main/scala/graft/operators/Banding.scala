package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.SortedIntersectCount

/** The banded-candidate core every LSH/pigeonhole face shares — ONE
  * implementation of the shape that was previously copied (with its
  * preconditions) into four files. Two families, each with one row
  * layout and one verify:
  *
  *   - Fingerprint (Hamming) faces: the [[ChunkKeys]] layout
  *     ([[chunkRows]], fingerprint → fixed-width pigeonhole chunks) and
  *     the inline Hamming verify [[hammingPairs]], which returns ONE row
  *     per pair at its minimum Hamming — so a per-frame face needs no
  *     min-aggregation of its own. Built on it:
  *     [[DedupOps.simhashPairs]] (SimHash text near-dup),
  *     [[MultimodalOps.nearDupPairs]] / `nearDupPairsWHash` /
  *     `nearDupPairsVideo` / `frameMatchPairs` (perceptual media
  *     near-dup, per item and per frame), and [[MediaIndexOps]] (the
  *     persisted fingerprint index: pair / capped / consensus /
  *     incremental / frame-match / streaming-grow reads, image, audio
  *     and video alike).
  *   - MinHash (Jaccard) faces: the [[BandKeys]] layout ([[bandRows]])
  *     and the exact-Jaccard verify [[jaccardPairs]] / [[withSets]].
  *     Built on it: [[DedupOps.jaccardPairsFrom]] (prefix-posting
  *     candidates) and [[DedupOps.minhashLshPairsFrom]],
  *     [[DedupOps.containmentPairs]], [[DedupOps.lshContamination]] (band
  *     candidates), the corpus-scan faces; and [[LshIndexOps]] (the
  *     persisted MinHash index: candidate / capped / incremental /
  *     streaming-grow reads), so its pairs equal the corpus-scan faces'
  *     by construction.
  *
  * Both share the stop-key skew cap [[capSmallBuckets]]. Everything here
  * is a pure equi-join on band or chunk keys (the Jaccard verify joins
  * on the candidates' doc ids) — never an all-pairs comparison at any
  * corpus scale.
  */
object Banding {

  /** Preconditions of the floor-division chunk extraction (enforced in
    * ONE place): the fingerprint must fit a double's mantissa for the
    * `floor(fp / 2^k)` arithmetic to be exact, and the bands must tile
    * it. Returns the chunk width in bits.
    */
  def requireChunkLayout(bits: Int, blockBands: Int): Int = {
    require(bits <= 52, s"chunk extraction is exact only for bits <= 52 (got $bits)")
    require(bits % blockBands == 0, s"blockBands ($blockBands) must divide bits ($bits)")
    bits / blockBands
  }

  /** The pigeonhole guarantee's precondition: a pair within `maxHamming`
    * bit flips shares ≥1 identical chunk only when there are more chunks
    * than allowed flips.
    */
  def requirePigeonhole(blockBands: Int, maxHamming: Int): Unit =
    require(blockBands > maxHamming, "pigeonhole blocking needs bands > maxHamming")

  /** chunk c = floor(fp / 2^(c·chunkBits)) mod 2^chunkBits, c ∈
    * [0, blockBands) — floor-division form (not shifts) so the DuckDB
    * oracles mirror it verbatim; exact in doubles because
    * fp < 2^bits ≤ 2^52 ([[requireChunkLayout]]).
    */
  def chunksCol(fp: Column, bits: Int, blockBands: Int): Column = {
    val chunkBits = requireChunkLayout(bits, blockBands)
    transform(
      sequence(lit(0), lit(blockBands - 1)),
      c => floor(fp / pow(lit(2.0), c * chunkBits)).cast("long") % (1L << chunkBits),
    )
  }

  /** The fingerprint chunk rows' key list: the persisted `_chunks`
    * table's bucket keys and every pigeonhole join's equi-join keys
    * (the [[BandKeys]] twin).
    */
  val ChunkKeys: Seq[String] = Seq("chunk_idx", "chunk_bits")

  /** `(doc_id, <fpCol>, chunk_idx, chunk_bits)` rows — the banded shape
    * the candidate joins run on, one row per element of the `chunks`
    * array column.
    */
  def chunkRows(fp: DataFrame, fpCol: String, chunks: Column): DataFrame =
    fp.select(col("doc_id"), col(fpCol), posexplode(chunks).as(ChunkKeys))

  /** [[chunkRows]] with the chunks extracted inline from the
    * fingerprint column ([[chunksCol]]).
    */
  def chunkRows(fp: DataFrame, fpCol: String, bits: Int, blockBands: Int): DataFrame =
    chunkRows(fp, fpCol, chunksCol(col(fpCol), bits, blockBands))

  private def keyCond(keys: Seq[String]): Column =
    keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)

  private def joinCond(keys: Seq[String], docPred: Option[Column]): Column =
    docPred.fold(keyCond(keys))(keyCond(keys) && _)

  /** The stop-key skew dial: drop every row whose band bucket holds more
    * than `maxBucket` members before candidate generation. One hot key
    * of size s costs s·(s−1)/2 verifications — the quadratic term at
    * corpus scale; the bounded-recall tradeoff (a true pair is missed
    * only if EVERY band it collides on is hot) is documented at each
    * capped face. The bucket sizing groups on the rows' own band keys,
    * so on a bucketed stored table it is exchange-free like the
    * candidate join itself.
    */
  def capSmallBuckets(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    // A non-positive cap would silently empty candidate generation —
    // reject it at plan construction rather than return zero pairs.
    require(maxBucket >= 1, s"stop-key cap must be >= 1 (got $maxBucket)")
    rows.join(
      rows
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("s"))
        .filter(col("s") <= maxBucket)
        .select(keys.head, keys.tail: _*),
      keys,
    )
  }

  /** Distinct banded candidate pairs `(outA, outB)` between two row
    * frames (aliased `x`/`y`; `docPred` may reference `x.doc_id` /
    * `y.doc_id` — e.g. the self-join's `x.doc_id < y.doc_id` or the
    * replay guard's `=!=`). No verify stage: callers whose verify
    * artifact does NOT ride in the band rows (Jaccard over shingle
    * sets) join this against their set store. `carry` columns of `y`
    * (e.g. a side tag of a unioned `y`) ride along and take part in
    * the distinct.
    */
  def candidatePairs(
      x: DataFrame,
      y: DataFrame,
      keys: Seq[String],
      outA: String = "doc_a",
      outB: String = "doc_b",
      docPred: Option[Column] = None,
      idCol: String = "doc_id",
      carry: Seq[String] = Nil,
  ): DataFrame =
    x.as("x")
      .join(y.as("y"), joinCond(keys, docPred))
      .select(col(s"x.$idCol").as(outA) +: col(s"y.$idCol").as(outB) +: carry.map(c => col(s"y.$c")): _*)
      .distinct()

  /** The ordered self-join face of [[candidatePairs]]. */
  def candidateSelfPairs(
      rows: DataFrame,
      keys: Seq[String],
      outA: String = "doc_a",
      outB: String = "doc_b",
      idCol: String = "doc_id",
  ): DataFrame =
    candidatePairs(
      rows, rows, keys, outA, outB,
      docPred = Some(col(s"x.$idCol") < col(s"y.$idCol")), idCol = idCol)

  /** Banded candidate join on [[ChunkKeys]] with the INLINE hamming
    * verify — for faces whose verify artifact (the fingerprint, one
    * long) rides in the chunk rows themselves, so candidates verify in
    * the same join with no second pass over any store. Returns ONE row
    * per `(outA, outB)` at its minimum `hamming ≤ maxHamming`. A
    * single-fingerprint face (image, audio, SimHash) has one hamming per
    * pair, so this is that value; a per-frame face (video: several rows
    * per doc_id) gets the min pairwise-frame hamming, exact by
    * pigeonhole — the closest frame pair, when within `maxHamming`,
    * collides on ≥1 chunk, so it is among the verified rows.
    */
  def hammingPairs(
      x: DataFrame,
      y: DataFrame,
      fpCol: String,
      maxHamming: Int,
      outA: String = "doc_a",
      outB: String = "doc_b",
      docPred: Option[Column] = None,
  ): DataFrame =
    x.as("x")
      .join(y.as("y"), joinCond(ChunkKeys, docPred))
      .select(
        col("x.doc_id").as(outA),
        col("y.doc_id").as(outB),
        bit_count(col(s"x.$fpCol").bitwiseXOR(col(s"y.$fpCol"))).as("hamming"),
      )
      .filter(col("hamming") <= maxHamming)
      .groupBy(col(outA), col(outB))
      .agg(min(col("hamming")).as("hamming"))

  /** The ordered self-join face of [[hammingPairs]]. */
  def hammingSelfPairs(rows: DataFrame, fpCol: String, maxHamming: Int): DataFrame =
    hammingPairs(
      rows, rows, fpCol, maxHamming,
      docPred = Some(col("x.doc_id") < col("y.doc_id")))

  /** The MinHash band rows' key list: the persisted `_bands` table's
    * bucket keys and every band candidate join's equi-join keys.
    */
  val BandKeys: Seq[String] = Seq("band_idx", "band_key")

  /** `(doc_id, band_idx, band_key)` rows of a `(doc_id, …, bk)` frame,
    * one per band key (`bk` from [[HashOps.bandKeys]]).
    */
  def bandRows(idx: DataFrame): DataFrame =
    idx.select(col("doc_id"), posexplode(col("bk")).as(BandKeys))

  /** |A ∩ B| of two sorted shingle-hash arrays, by an allocation-free
    * merge-scan.
    */
  def intersectCount(a: Column, b: Column): Column = SortedIntersectCount(a, b)

  /** Exact Jaccard of two sorted distinct shingle-hash arrays:
    * c / (|A| + |B| − c), c = [[intersectCount]].
    */
  def jaccard(a: Column, b: Column): Column = {
    val c = intersectCount(a, b)
    c.cast("double") / (size(a) + size(b) - c)
  }

  /** `candidates` with each side's shingle set attached: `sh_a` read
    * from `setsA(doc_id, sh)` at `a`, `sh_b` from `setsB(doc_id, sh)` at
    * `b`. `carry` columns of `setsB` (a side tag of a unioned store)
    * join with `b`.
    */
  def withSets(
      candidates: DataFrame,
      setsA: DataFrame,
      setsB: DataFrame,
      a: String = "doc_a",
      b: String = "doc_b",
      carry: Seq[String] = Nil,
  ): DataFrame =
    candidates
      .join(setsA.select(col("doc_id").as(a), col("sh").as("sh_a")), a)
      .join(setsB.select(col("doc_id").as(b) +: col("sh").as("sh_b") +: carry.map(col): _*), b +: carry)

  /** The exact-Jaccard verify of candidate pairs: `(a, b, jaccard)` for
    * the pairs of `candidates` whose [[withSets]] sets reach
    * `threshold`.
    */
  def jaccardPairs(
      candidates: DataFrame,
      setsA: DataFrame,
      setsB: DataFrame,
      threshold: Double,
      a: String = "doc_a",
      b: String = "doc_b",
      carry: Seq[String] = Nil,
  ): DataFrame =
    withSets(candidates, setsA, setsB, a, b, carry)
      .select(col(a), col(b), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
}
