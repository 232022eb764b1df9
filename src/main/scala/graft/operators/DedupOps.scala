package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, over
  * the `documents` (text) and `embeddings` (vector) tables.
  *
  * Scale design notes (the 100 TB story, tested at 500-doc SF):
  *   - Exact dedup = one hash-shuffle on the content key; min(doc_id)
  *     keeper policy is deterministic and mergeable (map-side combine).
  *   - MinHash LSH replaces the O(n²) pair space with a band-bucket
  *     equi-join: shuffle is on band keys, candidates per bucket only.
  *   - SimHash near-dup uses pigeonhole band blocking: for hamming ≤ h
  *     with b > h bands, two near-dups MUST share ≥1 intact band — an
  *     *exact* blocking scheme (zero recall loss), so the pair join is an
  *     equi-join on (band_idx, band_bits), never a cross join.
  *   - Embedding near-dup keeps an exact brute-force baseline (the
  *     oracle-checkable reference semantics) and delegates the scale path
  *     to the sign-LSH bucketing in [[SimilarityOps]].
  */
object DedupOps {

  /** Partition count for compute-heavy stages (the session's shuffle
    * parallelism — on a cluster this is sized to total cores).
    */
  private def partitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Exact dedup: group identical normalized text, keep the smallest
    * doc_id as the canonical copy. Output one row per distinct content
    * with its duplicate count.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")

  /** Exact n-gram Jaccard pairs above a (strictly positive) threshold —
    * the prefix-filtered set-similarity join (All-Pairs/PPJoin family):
    *
    *  1. sort each document's distinct shingle-hash set (the hash value
    *     is the canonical global order);
    *  2. index only each set's PREFIX — its first |A| − ⌈t·|A|⌉ + 1
    *     elements. Theorem: J(A,B) ≥ t ⇒ the prefixes share an element,
    *     so the prefix-postings equi-join generates every qualifying
    *     pair (no recall loss; proven by the ⌈t·|A|⌉ intersection lower
    *     bound);
    *  3. verify candidates with an allocation-free sorted merge-scan
    *     intersect count; jaccard = c / (|A| + |B| − c).
    *
    * Identical output to the all-pairs definition (which the DuckDB
    * oracle still states) at a fraction of the join volume: postings
    * shrink ≈ (1−t)×, and no per-pair work happens outside the
    * candidate set. Every stage is an equi-shuffle; nothing quadratic.
    */
  /** The materialized sorted-shingle-set artifact (doc_id, sh, sz):
    * computed once, `localCheckpoint`ed (the per-query form of the
    * persisted index table — blocks are freed by the ContextCleaner when
    * the plan is GC'd), shared by every consumer join side. Queries that
    * need BOTH the exact-Jaccard arm and the LSH arm (the recall
    * scoreboard) pass one of these to the `*From` variants so the
    * shingle pipeline runs once, not once per arm. The repartition
    * spreads the eager compute across all cores.
    */
  def shingleSets(docs: DataFrame, n: Int): DataFrame =
    docs
      .repartition(partitions(docs), col("doc_id"))
      .select(col("doc_id"), array_sort(HashOps.shingleHashes(col("text"), n)).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("sz"))
      .localCheckpoint()

  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    jaccardPairsFrom(shingleSets(docs, n), threshold)

  /** Prefix-filtered exact-Jaccard join over a precomputed
    * [[shingleSets]] frame — the prefix postings and BOTH verify-join
    * sides read the one materialized table.
    */
  def jaccardPairsFrom(sized: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0, "prefix filtering requires a positive threshold")
    val prefixLen = (col("sz") - ceil(col("sz") * threshold).cast("int") + 1)
    val posts = sized.select(
      col("doc_id"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("h"),
    )
    Banding.jaccardPairs(Banding.candidateSelfPairs(posts, Seq("h")), sized, sized, threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash + LSH near-dup pipeline: shingle → k-wide minhash signature
    * → band keys → bucket equi-join → exact-Jaccard verify on candidates.
    * Every stage is deterministic (portable hash family), so the whole
    * pipeline — including which candidate pairs the bands surface — is
    * reproducible in the SQL oracle.
    */
  def minhashLshPairs(
      docs: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
  ): DataFrame =
    minhashLshPairsFrom(shingleSets(docs, n), k, bands, threshold)

  /** The LSH pipeline over a precomputed [[shingleSets]] frame. The
    * signature/band table is the LSH *index* artifact: computed ONCE and
    * materialized (localCheckpoint — the per-query stand-in for the
    * persisted index table a cluster pipeline would publish, see
    * [[LshIndexOps]]). Without this, column pruning makes the band
    * self-join's two sides and the two verify-join sides non-identical
    * subtrees, so Spark re-runs the whole shingle→minhash→band pipeline
    * up to 4× per query — the round-3 bench's single biggest cost.
    * The intermediate repartition is an *exchange barrier*: projection
    * collapsing would otherwise inline the signature array into every
    * per-band slice of `bandKeys` (multiplicative recompute per row),
    * and the explicit partition count keeps AQE from coalescing the
    * (byte-wise tiny, compute-wise expensive) stage onto one core.
    */
  def minhashLshPairsFrom(
      sized: DataFrame,
      k: Int,
      bands: Int,
      threshold: Double,
  ): DataFrame = {
    val (sets, candidates) = lshSetsAndCandidates(sized, k, bands)
    Banding.jaccardPairs(candidates, sets, sets, threshold).orderBy("doc_a", "doc_b")
  }

  /** The banding core shared by the Jaccard and edit-distance verify
    * paths: the materialized signature/band table (`sets`, with the
    * sorted shingle arrays the Jaccard verify consumes) and the distinct
    * band-collision candidate pairs.
    */
  private def lshSetsAndCandidates(sized: DataFrame, k: Int, bands: Int): (DataFrame, DataFrame) = {
    val rowsPerBand = k / bands
    val p = partitions(sized)
    val sets = sized
      .select(col("doc_id"), col("sh"), HashOps.minhashSignature(col("sh"), k).as("sig"))
      .repartition(p, col("doc_id"))
      .select(
        col("doc_id"),
        col("sh"),
        HashOps.bandKeys(col("sig"), bands, rowsPerBand).as("bk"),
      )
      .localCheckpoint()
    (sets, Banding.candidateSelfPairs(Banding.bandRows(sets), Banding.BandKeys))
  }

  /** Fuzzy benchmark decontamination — the TWO-TABLE LSH join: corpus
    * documents near-duplicate (Jaccard ≥ threshold) to ANY benchmark
    * document. Exact n-gram contamination
    * ([[TextOps.contamination]]) catches verbatim leakage; this
    * catches paraphrase-level leakage — a benchmark item lightly
    * rewritten into the training corpus — that exact overlap misses.
    *
    * Shape: one shingle/signature/band pass over the WHOLE table, then
    * the band frame splits on `isBench` (a doc_id predicate by
    * contract — it is re-evaluated on derived frames): the benchmark
    * side is eval-set-sized and BROADCASTS, so the candidate join
    * never shuffles the corpus, and the exact-Jaccard verify touches
    * only band collisions. Output covers every non-benchmark document
    * (clean rows carry zeros — the decontamination verdict is total).
    */
  def lshContamination(
      docs: DataFrame,
      isBench: Column,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
  ): DataFrame = {
    val rowsPerBand = k / bands
    val sets = shingleSets(docs, n)
      .select(col("doc_id"), col("sh"), HashOps.minhashSignature(col("sh"), k).as("sig"))
      .select(
        col("doc_id"),
        col("sh"),
        HashOps.bandKeys(col("sig"), bands, rowsPerBand).as("bk"),
      )
      .localCheckpoint()
    val bandsDf = Banding.bandRows(sets)
    val benchBands = bandsDf
      .filter(isBench)
      .withColumnRenamed("doc_id", "bench_id")
    val cand = bandsDf
      .filter(!isBench)
      .join(broadcast(benchBands), Banding.BandKeys)
      .select(col("doc_id"), col("bench_id"))
      .distinct()
    val hits = Banding.jaccardPairs(cand, sets, sets, threshold, "doc_id", "bench_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("jaccard")).as("max_jaccard"))
    docs
      .filter(!isBench)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_bench_matches"), lit(0L)) > 0).as("contaminated"),
      )
      .orderBy("doc_id")
  }

  /** Winnowing-fingerprint pairs — the MOSS detector: document pairs
    * ranked by how many winnowing fingerprints they SHARE. Winnowing
    * guarantees any common run of ≥ w+k−1 tokens yields a shared
    * fingerprint, so this finds LOCAL overlap (a plagiarized paragraph
    * inside otherwise-different documents) that global set-overlap
    * scores dilute away. Candidates come from a posting-list equi-join
    * on the fingerprint value — same scale shape as the PPJoin
    * postings — then one (pair) count with map-side combine; no
    * all-pairs stage exists.
    */
  def winnowPairs(docs: DataFrame, k: Int, w: Int, minShared: Long): DataFrame =
    winnowPairs(docs, k, w, minShared, maxPostingLen = Long.MaxValue)

  /** [[winnowPairs]] with the hot-key dial wired in: a fingerprint
    * shared by m documents contributes m·(m−1)/2 join rows, so one
    * ubiquitous fingerprint (a boilerplate phrase every page carries)
    * is a quadratic hotspot at corpus scale. Fingerprints whose posting
    * list exceeds `maxPostingLen` are dropped BEFORE the self-join —
    * one narrow count on the fingerprint key (map-side combine) plus a
    * semi-join, bounding any key's join fan-out at
    * maxPostingLen·(maxPostingLen−1)/2. Dropping them is the MOSS
    * discipline, not a shortcut: a fingerprint present in half the
    * corpus identifies boilerplate, and the local-overlap evidence the
    * detector ranks on is exactly the NON-ubiquitous shared spans.
    */
  def winnowPairs(
      docs: DataFrame,
      k: Int,
      w: Int,
      minShared: Long,
      maxPostingLen: Long,
  ): DataFrame = {
    val fpAll =
      if (maxPostingLen == Long.MaxValue) TextOps.winnow(docs, k, w)
      // Materialized once: the posting count, the semi-join probe, and
      // both self-join sides would otherwise each re-run the winnow
      // pipeline (the subtree-reuse lesson minhashLshPairsFrom pins).
      else TextOps.winnow(docs, k, w).localCheckpoint()
    val fp =
      if (maxPostingLen == Long.MaxValue) fpAll
      else
        fpAll.join(
          fpAll
            .groupBy(col("fingerprint"))
            .agg(count(lit(1)).as("plen"))
            .filter(col("plen") <= maxPostingLen)
            .select("fingerprint"),
          Seq("fingerprint"),
          "left_semi",
        )
    fp.as("x")
      .join(
        fp.as("y"),
        col("x.fingerprint") === col("y.fingerprint") && col("x.doc_id") < col("y.doc_id"),
      )
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Containment pairs — ASYMMETRIC overlap |A∩B| / |A| over the same
    * LSH band candidates: the partial-copy detector (a short document
    * quoted wholesale inside a long one sits far below any symmetric
    * Jaccard threshold — intersection over the UNION is diluted by the
    * long side — but its containment in the long doc is ≈ 1). Emits
    * both directions' scores per candidate pair, keeping pairs where
    * EITHER side is contained at `threshold`. Same band-recall contract
    * and the same codegen'd sorted-intersect verify as the Jaccard
    * path; only the denominator changes.
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
  ): DataFrame = {
    val (sets, candidates) = lshSetsAndCandidates(shingleSets(docs, n), k, bands)
    val c = Banding.intersectCount(col("sh_a"), col("sh_b"))
    Banding.withSets(candidates, sets, sets)
      .select(
        col("doc_a"),
        col("doc_b"),
        (c.cast("double") / size(col("sh_a"))).as("containment_a"),
        (c.cast("double") / size(col("sh_b"))).as("containment_b"),
      )
      .filter(col("containment_a") >= threshold || col("containment_b") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Character-level near-dup verify: the same MinHash-LSH band
    * candidates as [[minhashLshPairs]], verified by EDIT DISTANCE
    * instead of set overlap — the signal that separates true re-edits
    * (small char deltas: typo fixes, inserted sentences) from
    * bag-of-words coincidence, which token-set Jaccard cannot. An exact
    * |len_a − len_b| ≤ maxEdits pre-filter (edit distance is bounded
    * below by the length difference) guards the O(len·len) levenshtein
    * so the quadratic-in-length kernel runs only on length-compatible
    * candidates; at 100 TB the pre-filter prunes on two already-present
    * int columns before any text is compared. Recall is the band recall
    * (the measured dd_lsh_recall trade); the verify itself is exact.
    */
  def editDistancePairs(docs: DataFrame, n: Int, k: Int, bands: Int, maxEdits: Int): DataFrame = {
    val (_, candidates) = lshSetsAndCandidates(shingleSets(docs, n), k, bands)
    def side(s: String) = docs.select(
      col("doc_id").as(s"doc_$s"), col("text").as(s"text_$s"), length(col("text")).as(s"len_$s"))
    candidates
      .join(side("a"), "doc_a")
      .join(side("b"), "doc_b")
      .filter(abs(col("len_a") - col("len_b")) <= maxEdits)
      .select(
        col("doc_a"),
        col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
      )
      .filter(col("edit_dist") <= maxEdits)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-document SimHash fingerprints (portable family). */
  def simhashFingerprints(docs: DataFrame, bits: Int): DataFrame =
    docs
      .select(col("doc_id"), HashOps.simhash(col("text"), bits).as("simhash"))
      .orderBy("doc_id")

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, found by
    * exact pigeonhole blocking: split the fingerprint into `blockBands`
    * chunks; pairs within the hamming budget share ≥1 identical chunk
    * (requires blockBands > maxHamming). Join is a pure equi-join on
    * (chunk_idx, chunk_bits) — no cross join at any scale.
    */
  def simhashPairs(docs: DataFrame, bits: Int, blockBands: Int, maxHamming: Int): DataFrame = {
    Banding.requirePigeonhole(blockBands, maxHamming)
    // Fingerprints are the index artifact here: computed once in
    // parallel (the explicit partition count keeps AQE from coalescing
    // the compute-heavy stage) and materialized, so the chunk self-join's
    // two sides read stored fingerprints instead of re-hashing the text.
    val p = partitions(docs)
    val fp = docs
      .repartition(p, col("doc_id"))
      .select(col("doc_id"), HashOps.simhash(col("text"), bits).as("simhash"))
      .localCheckpoint()
    val chunks = Banding.chunkRows(fp, "simhash", bits, blockBands)
    Banding
      .hammingSelfPairs(chunks, "simhash", maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over an undirected pair list (doc_a, doc_b):
    * label propagation to the fixpoint — each node's component becomes
    * the minimum doc_id reachable from it. This is the stage that turns
    * near-dup PAIRS into dedup CLUSTERS (keep one doc per component).
    *
    * The loop is a driver-coordinated iteration of pure DataFrame
    * joins; convergence is reached in O(graph diameter) rounds (near-dup
    * clusters are shallow — a handful of rounds). At billion-edge scale
    * the same loop structure runs the large-star/small-star contraction
    * (O(log n) rounds) with per-round checkpointing; the semantics and
    * the fixpoint are identical, which is why the driver-checkable
    * version is this direct form. Throws if maxIter is hit before the
    * fixpoint (a truncated result would be silently wrong).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Materialize the symmetrized edge list once, in ONE pass over the
    // pair-producing plan (explode of the two orientations) — without
    // this every iteration's join would re-run the (possibly expensive)
    // pair plan, and a union of two projections would run it twice even
    // for the checkpoint itself.
    val edges = pairs
      .select(
        explode(
          array(
            struct(col("doc_a").as("u"), col("doc_b").as("v")),
            struct(col("doc_b").as("u"), col("doc_a").as("v")),
          )
        ).as("e")
      )
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    // Per-round shape (measured on the sf0.1 video near-dup graph,
    // where the naive two-join round cost 2.9 s total):
    //   1. base: one equi-join (edges x labels) unioned with the labels
    //      themselves, then a single min-aggregate — replaces the
    //      neighbor-min + left-join-back pair of shuffles.
    //   2. pointer jump: comp := comp[comp] via one more equi-join.
    //      Labels are monotone non-increasing and every comp value is a
    //      node id present in base, so the jump halves the remaining
    //      propagation distance (9 rounds -> 6 on the video graph).
    //   3. convergence: a one-aggregate label-set checksum compared to
    //      the previous round's (the edgeChecksum trick) instead of a
    //      second pass counting changed rows.
    // Round 1 is fused: from identity labels, base is just the
    // neighbor-min aggregate — no initial distinct/checkpoint needed.
    // (count, Σcomp, Σhash) in ONE aggregate. Labels are monotone
    // non-increasing over a fixed node universe, so Σcomp alone is an
    // EXACT convergence test (any label movement strictly decreases it);
    // the hash sum rides along as the set-identity cross-check. This
    // removes the (astronomically unlikely) hash-sum collision the
    // hash-only form of this check tolerated — same single-row cost.
    def labelChecksum(l: DataFrame): org.apache.spark.sql.Row =
      l.agg(
        count(lit(1)).as("n"),
        sum(col("comp").cast("decimal(38,0)")).as("csum"),
        sum(xxhash64(col("id"), col("comp")).cast("decimal(38,0)")).as("hsum"),
      ).head()
    var labels: DataFrame = null
    var sig: org.apache.spark.sql.Row = null
    var done = false
    var iter = 0
    while (!done && iter < maxIter) {
      val base =
        if (labels == null)
          edges
            .groupBy(col("u").as("id"))
            .agg(min(col("v")).as("m"))
            .select(col("id"), least(col("id"), col("m")).as("comp"))
        else
          edges
            .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), "v")
            .select(col("u").as("id"), col("vcomp").as("comp"))
            .union(labels)
            .groupBy("id")
            .agg(min(col("comp")).as("comp"))
      val jumped = base
        .join(base.select(col("id").as("comp"), col("comp").as("cc")), Seq("comp"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"))
        .localCheckpoint()
      val nsig = labelChecksum(jumped)
      done = sig != null && nsig == sig
      sig = nsig
      labels = jumped
      iter += 1
    }
    require(done, s"connected components did not converge in $maxIter rounds")
    labels.select(col("id").as("doc_id"), col("comp").as("component")).orderBy("doc_id")
  }

  /** Incremental maintenance of a PERSISTED cluster assignment table
    * (`(doc_id, component)` bucketed+sorted on doc_id, component = min
    * reachable id — [[connectedComponents]]' fixpoint): merge
    * `newPairs` (verified pairs involving a just-ingested batch) by
    * label-prop over ONLY the touched components. The edge set is the
    * new pairs plus the STAR edges (member → component label) of every
    * stored component containing a pair endpoint — stars preserve the
    * old components' connectivity exactly, so the merged labels equal
    * a from-scratch label-prop over the full grown pair set while the
    * iterative work scales with the touched slice, not the corpus;
    * untouched components carry over unchanged. Idempotent:
    * re-merging the same pairs reproduces the identical table, so a
    * crashed ingest replays cleanly — the rewrite is STAGED (written
    * to a shadow table, then swapped over the live name by
    * [[IndexCatalog.swapStaged]]'s rename-first sequence), so a crash
    * anywhere in the minutes-long write phase leaves the live artifact
    * untouched; the rename-instant window is RETRIED on the read side
    * (readers go through [[IndexCatalog.readLive]] — one retry, then
    * the `_old` recovery copy) and a swap that crashed between its two
    * renames is repaired by [[IndexCatalog.recoverDangling]] here and
    * in every maintainer's tableExists guard. Shared by the
    * media-fingerprint and text-LSH index maintainers.
    */
  def growPersistedClusters(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      newPairs: DataFrame,
  ): Unit = {
    IndexCatalog.recoverDangling(spark, table)
    val np = newPairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    if (np.isEmpty) return
    val stored = spark.table(table)
    val endpoints = np.select(col("doc_a").as("doc_id"))
      .unionAll(np.select(col("doc_b").as("doc_id")))
      .distinct()
    val touched = stored.join(endpoints, Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    // Materialize BOTH table-derived frames before the overwrite below
    // mutates the table they read.
    val untouched = stored.join(touched, Seq("component"), "left_anti")
      .select(col("doc_id"), col("component"))
      .localCheckpoint()
    val stars = stored.join(touched, Seq("component"), "left_semi")
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("doc_a"), col("component").as("doc_b"))
      .localCheckpoint()
    val merged = connectedComponents(np.unionByName(stars))
    IndexCatalog.swapStaged(
      spark,
      Seq(IndexCatalog.stageTableFrom(
        spark, table, untouched.unionByName(merged.select(col("doc_id"), col("component"))))))
    spark.catalog.refreshTable(table)
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the billion-edge path that [[connectedComponents]]'s
    * docstring promises: O(log n) rounds instead of O(diameter), each
    * round two grouped aggregations and an equi-join, nothing quadratic.
    *
    *   - large-star (per node u over the symmetrized edges): attach every
    *     strictly-larger neighbor to m = min(N(u) ∪ {u}).
    *   - small-star (per node u over (big, small)-oriented edges): attach
    *     every smaller neighbor, and u itself, to m = min(N(u) ∪ {u}).
    *
    * Both steps preserve connectivity exactly; the fixpoint is a forest
    * of stars centered at each component's minimum id, so the final edge
    * list IS the (node → component-min) labeling — identical to label
    * propagation's fixpoint, which the differential spec asserts on
    * random graphs. Convergence is the (count, sum-of-edge-hashes)
    * aggregate compare ([[edgeChecksum]]) — one aggregate per round, no
    * join; both sides are canonical distinct (u, v) sets, so equal
    * checksums means equal sets up to a 64-bit hash-sum collision
    * (DedupSpec asserts the checksum test agrees with the exact
    * symmetric-except test on random edge sets).
    */
  /** Set-identity checksum of a canonical (u, v) edge list: row count
    * plus the exact sum of per-edge 64-bit hashes, in ONE aggregate pass
    * (no join). Equal checksums ⇔ equal edge sets, up to an ≈2⁻⁶⁴
    * hash-sum collision — the scale-safe convergence test for iterative
    * graph contraction (the exact symmetric-except test costs two
    * anti-joins per round). The decimal(38,0) accumulator holds ~10¹⁹
    * signed-64-bit terms exactly; a long SUM would overflow (and throw
    * under ANSI) almost immediately on random 64-bit hashes.
    */
  private[graft] def edgeChecksum(edges: DataFrame): org.apache.spark.sql.Row =
    edges
      .agg(
        count(lit(1)).as("n"),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("hsum"),
      )
      .head()

  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val p = pairs.localCheckpoint()
    var edges = p
      .select(
        greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"),
      )
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var sig = edgeChecksum(edges)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      import org.apache.spark.sql.expressions.Window
      val byU = Window.partitionBy(col("u"))
      // One-pass symmetrization off the checkpoint (explode of the two
      // orientations — the connectedComponents discipline), and each
      // star step's per-node minimum as a WINDOW over its partition
      // instead of a groupBy + join-back: one exchange per step where
      // the aggregate+join shape paid two (the probe side re-exchanged
      // on the grouping key) and executed the large-star subtree once
      // per consumer.
      val sym = edges
        .select(
          explode(
            array(
              struct(col("u"), col("v")),
              struct(col("v").as("u"), col("u").as("v")),
            )
          ).as("e")
        )
        .select(col("e.u").as("u"), col("e.v").as("v"))
      // large-star: m = min(N(u) ∪ {u}); every original edge is seen
      // from its smaller endpoint's group (where the other endpoint is
      // the strictly-larger neighbor), so no connectivity is dropped by
      // the v > u filter. Emitted un-deduplicated: small-star's window
      // min is multiplicity-insensitive and the round's trailing
      // distinct canonicalizes, so the intermediate distinct the
      // join-back form needed (as its shared materialization point) is
      // pure cost here.
      val ls = sym
        .withColumn("m", least(min(col("v")).over(byU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // ls emits (v, m) with m <= u < v, so orientation is (big, small)
      // and small-star's min(N(u) ∪ {u}) is just min over neighbors.
      // Each row emits its (neighbor → m) edge plus the center's own
      // (u → m) — the center row repeats per neighbor, collapsed by the
      // same trailing distinct the join+union form relied on.
      val ss = ls
        .withColumn("m", min(col("v")).over(byU))
        .select(
          explode(
            array(
              struct(col("v").as("u"), col("m").as("v")),
              struct(col("u"), col("m").as("v")),
            )
          ).as("e")
        )
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      // One aggregate over the (already materialized) new edge set; the
      // previous round's checksum is carried, so convergence costs a
      // single scan per round instead of two anti-joins.
      val ssSig = edgeChecksum(ss)
      done = ssSig == sig
      sig = ssSig
      edges = ss
      iter += 1
    }
    require(done, s"star contraction did not converge in $maxIter rounds")
    edges
      .select(col("u").as("doc_id"), col("v").as("component"))
      .union(edges.select(col("v"), col("v")).distinct())
      .distinct()
      .orderBy("doc_id")
  }

  /** Exact embedding near-dup: all pairs with cosine ≥ threshold, dot
    * products as strict left folds (bit-reproducible doubles). Baseline
    * semantics; the bucketed scale path lives in [[SimilarityOps]].
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val v = embeddings.select(
      col("vec_id"),
      SimilarityOps.unitNorm(col("embedding")).as("u"),
    )
    val a = v.select(col("vec_id").as("vec_a"), col("u").as("u_a"))
    val b = v.select(col("vec_id").as("vec_b"), col("u").as("u_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), SimilarityOps.dot(col("u_a"), col("u_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Embedding near-dup at scale: sign-LSH band bucketing → bucket
    * equi-join → exact cosine verify, mirroring the minhash-LSH /
    * simhash structure (candidate generation is an equi-join on
    * (band_idx, bucket); nothing quadratic, no BroadcastNestedLoopJoin).
    * Each band is an independent set of probe dims (axis-aligned sign
    * hyperplanes, [[SimilarityOps.signBucket]]); a pair is a candidate
    * if it collides in ≥1 band. Recall < 1 by construction (more/wider
    * bands trade join volume for recall); the all-pairs form above stays
    * as the recall baseline in tests, and the oracle mirrors the
    * bucketing itself so the pipeline is hash-checkable end-to-end.
    */
  def embeddingNearDupPairsBucketed(
      embeddings: DataFrame,
      threshold: Double,
      bands: Seq[Seq[Int]],
  ): DataFrame = {
    // One materialized index frame (see minhashLshPairs): unit-norm
    // vectors AND per-band buckets computed in a single parallel pass,
    // localCheckpoint'd so the band self-join's two sides and the two
    // verify-join sides all read stored data instead of re-normalizing
    // per consumer.
    val p = partitions(embeddings)
    val indexed = embeddings
      .repartition(p, col("vec_id"))
      .select(
        col("vec_id"),
        SimilarityOps.unitNorm(col("embedding")).as("u"),
        array(bands.map(dims => SimilarityOps.signBucket(col("embedding"), dims)): _*).as("bks"),
      )
      .localCheckpoint()
    val v = indexed.select(col("vec_id"), col("u"))
    val buckets = indexed.select(
      col("vec_id"),
      posexplode(col("bks")).as(Seq("band_idx", "bucket")),
    )
    val candidates = Banding.candidateSelfPairs(
      buckets, Seq("band_idx", "bucket"), "vec_a", "vec_b", idCol = "vec_id")
    candidates
      .join(v.select(col("vec_id").as("vec_a"), col("u").as("u_a")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("u").as("u_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"), SimilarityOps.dot(col("u_a"), col("u_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** SEMANTIC benchmark decontamination — the embedding-space
    * companion to the n-gram ([[graft.TextQueries]] tx_contamination)
    * and fuzzy-LSH (dd_contamination_lsh) filters: corpus vectors
    * whose cosine to ANY benchmark vector reaches `threshold` are
    * paraphrase-level leakage no lexical filter can see. Same sign-LSH
    * discipline as [[embeddingNearDupPairsBucketed]], but the band
    * bucket join is CROSS-TABLE (benchmark side × corpus side — never
    * corpus × corpus, never all-pairs), candidates verify by the exact
    * fold dot product, and the verdict aggregates per corpus vector:
    * how many benchmark vectors it matches and the worst cosine. At
    * 100 TB the benchmark side is tiny and the corpus side only ever
    * shuffles on its band keys.
    */
  def semanticContamination(
      embeddings: DataFrame,
      threshold: Double,
      bands: Seq[Seq[Int]],
      benchMod: Int = 10,
  ): DataFrame = {
    val p = partitions(embeddings)
    val indexed = embeddings
      .repartition(p, col("vec_id"))
      .select(
        col("vec_id"),
        SimilarityOps.unitNorm(col("embedding")).as("u"),
        array(bands.map(dims => SimilarityOps.signBucket(col("embedding"), dims)): _*).as("bks"),
      )
      .localCheckpoint()
    val buckets = indexed.select(
      col("vec_id"),
      posexplode(col("bks")).as(Seq("band_idx", "bucket")),
    )
    val v = indexed.select(col("vec_id"), col("u"))
    val hits = Banding
      .candidatePairs(
        buckets.filter(col("vec_id") % benchMod === 0),
        buckets.filter(col("vec_id") % benchMod =!= 0),
        Seq("band_idx", "bucket"), "bench_id", "vec_id", idCol = "vec_id")
      .join(v.select(col("vec_id").as("bench_id"), col("u").as("u_a")), "bench_id")
      .join(v.select(col("vec_id"), col("u").as("u_b")), "vec_id")
      .select(col("vec_id"), SimilarityOps.dot(col("u_a"), col("u_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("hits"), max(col("cosine")).as("max_cos"))
    // Total verdict over the corpus side (the dd_contamination_lsh
    // report shape): every corpus vector appears, clean rows at 0.
    indexed
      .filter(col("vec_id") % benchMod =!= 0)
      .select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        coalesce(col("hits"), lit(0L)).as("n_bench_matches"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cosine"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"),
      )
      .orderBy("vec_id")
  }

  /** Near-dup-aware train/validation split: every document is assigned
    * a split by hashing its near-dup CLUSTER id (its own id when
    * unclustered), so near-duplicate documents can never straddle the
    * train/val boundary — the leakage bug this operator exists to
    * prevent (a val doc whose near-copy sits in train inflates eval).
    *
    * The hash is the portable multiplicative family the LSH oracles
    * mirror (key·2654435761 mod 2³¹−1, then mod `buckets`), so the
    * assignment is deterministic and engine-independent. One left join
    * onto the cluster labeling; the hash is row-local column algebra.
    */
  def nearDupAwareSplit(docs: DataFrame, clusters: DataFrame, trainBuckets: Int, buckets: Int): DataFrame = {
    require(trainBuckets > 0 && trainBuckets < buckets, "need 0 < trainBuckets < buckets")
    val p = 2147483647L
    docs
      .select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("split_key"))
      // Reduce mod p BEFORE multiplying: (key·m) mod p ≡ ((key mod p)·m)
      // mod p, and (p−1)·2654435761 ≈ 5.7e18 stays in Long range — the
      // unreduced product overflows (or throws under ANSI mode) for
      // doc_id ≳ 3.4e9, plausible at the corpus sizes this targets.
      .withColumn("bucket", pmod(pmod(col("split_key"), lit(p)) * 2654435761L, lit(p)) % buckets)
      .withColumn("split", when(col("bucket") < trainBuckets, "train").otherwise("val"))
      .orderBy("doc_id")
  }

  /** Semantic dedup (SemDeDup-style): within each coarse cluster cell
    * (a k-means/IVF assignment column — here any cell column), drop
    * every vector that has a LOWER-id cell-mate with cosine ≥ threshold;
    * the survivor set is cosine-diverse per cell. Output is the removal
    * list: (vec_id, kept_by = lowest-id qualifying cell-mate, n_dups =
    * how many earlier cell-mates crossed the threshold).
    *
    * Scale shape: the pair space is per-cell only — one equi-join on the
    * cell id (never corpus²), exactly the SemDeDup recipe: cluster first
    * so the quadratic verify is bounded by max cell size; at 100 TB cells
    * are capped by the quantizer's K. Unit-norm vectors are materialized
    * once (localCheckpoint) so both join sides read stored data.
    */
  def semanticDedup(embeddings: DataFrame, cell: Column, threshold: Double): DataFrame = {
    val p = partitions(embeddings)
    val v = embeddings
      .repartition(p, col("vec_id"))
      .select(col("vec_id"), cell.as("cell"), SimilarityOps.unitNorm(col("embedding")).as("u"))
      .localCheckpoint()
    v.select(col("cell"), col("vec_id").as("kept"), col("u").as("u_a"))
      .join(
        v.select(col("cell"), col("vec_id").as("vec_id"), col("u").as("u_b")),
        Seq("cell"),
      )
      .filter(col("kept") < col("vec_id"))
      .select(col("vec_id"), col("kept"), SimilarityOps.dot(col("u_a"), col("u_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("kept")).as("kept_by"), count(lit(1)).as("n_dups"))
      .orderBy("vec_id")
  }

  /** Quality-aware canonical selection: given near-dup clusters and a
    * per-document quality score, keep the best-scoring member of each
    * cluster (ties → smallest doc_id) and every unclustered document.
    * This is the keeper policy real pipelines use — "min id" is only a
    * determinism fallback; you want the longest/cleanest copy.
    *
    * One row_number window per cluster (shuffle on component — cluster
    * sizes are small by construction, so no skew), then a left join
    * back onto the corpus; unclustered docs never enter the window.
    */
  def keepBest(docs: DataFrame, clusters: DataFrame, quality: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), quality.as("q"))
    val ranked = clusters
      .join(scored, Seq("doc_id"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("component").orderBy(col("q").desc, col("doc_id"))),
      )
      .select(col("doc_id"), (col("rn") === 1).as("keep_c"))
    docs
      .select(col("doc_id"))
      .join(ranked, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_c"), lit(true)).as("keep"))
      .orderBy("doc_id")
  }

  /** Exact substring-duplication metric: per document, the fraction of
    * its positional word n-gram shingles whose hash also occurs in some
    * OTHER document — the corpus-level "duplicated text" signal used to
    * decide span-level dedup (high fraction ⇒ boilerplate/mirror).
    *
    * Plan: explode ordered shingle hashes (positional — multiplicity
    * within a document counts), aggregate to (shingle, doc) with a count,
    * then a count-over-shingle window to tag shingles seen in ≥2 docs,
    * and a final per-doc rollup. Every stage is a key-partitioned
    * hash agg/window — shuffle keys are (h, doc_id), (h), (doc_id);
    * nothing pairwise, nothing quadratic, mergeable all the way, so the
    * plan survives a corpus 1000× this size unchanged.
    */
  def dupNgramStats(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = graft.expressions.SketchColumns.shingleHashesOrdered(col("text"), n)
    val perDocShingle = docs
      .select(col("doc_id"), explode(hs).as("h"))
      .groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
    val tagged = perDocShingle
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("h")))
    tagged
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_shingles"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L)).as("n_dup"),
      )
      .select(
        col("doc_id"),
        col("n_shingles"),
        col("n_dup"),
        (col("n_dup").cast("double") / col("n_shingles").cast("double")).as("dup_fraction"),
      )
      .orderBy("doc_id")
  }

  /** Maximal duplicated-substring SPANS — the actionable output of exact
    * substring dedup (the operation "remove any substring of ≥ L tokens
    * that also appears elsewhere in the corpus" needs): where
    * [[dupNgramStats]] reports how MUCH of a document is duplicated,
    * this reports WHERE, as `[span_start, span_end]` token ranges a
    * curation pipeline can cut or mask verbatim.
    *
    * A position is "duplicated" iff its word n-gram's hash occurs in ≥2
    * distinct documents; maximal runs of consecutive duplicated
    * positions become spans via gaps-and-islands (pos − row_number is
    * constant exactly on a consecutive run), and spans shorter than
    * `minGrams` n-grams are dropped. `span_end` is the last TOKEN index
    * covered (last shingle start + n − 1), so `span_tokens` is the
    * cuttable substring length in tokens.
    *
    * Scale shape: the duplicated-hash set is built by a narrow 8-byte-key
    * aggregate ((h, doc) distinct → h count), positions rejoin it on the
    * same key, and the islands window partitions by doc_id — per-doc
    * state is bounded by document length, never corpus size. Nothing
    * pairwise: the 100 TB cost is two hash-key shuffles + one
    * doc-partitioned sort, same family as [[dupNgramStats]].
    */
  def dupSpans(docs: DataFrame, n: Int, minGrams: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = graft.expressions.SketchColumns.shingleHashesOrdered(col("text"), n)
    // (doc_id, pos) is unique by construction (one posexplode per doc).
    val positioned = docs.select(col("doc_id"), posexplode(hs).as(Seq("pos", "h")))
    val dupHashes = positioned
      .select(col("h"), col("doc_id"))
      .distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"))
    val islands = positioned
      .join(dupHashes, "h")
      .withColumn("grp", col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    islands
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("last_gram"), count(lit(1)).as("n_grams"))
      .filter(col("n_grams") >= minGrams)
      .select(
        col("doc_id"),
        col("span_start").cast("long").as("span_start"),
        (col("last_gram") + (n - 1)).cast("long").as("span_end"),
        (col("last_gram") + n - col("span_start")).cast("long").as("span_tokens"),
        col("n_grams"),
      )
      .orderBy("doc_id", "span_start")
  }
}
