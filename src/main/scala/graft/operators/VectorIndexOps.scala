package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED IVF vector-index artifact — the third member of the
  * storage-side triad ([[LshIndexOps]] for near-dup sets,
  * [[SearchIndexOps]] for text postings, this for embeddings): a corpus
  * pipeline trains the coarse quantizer ONCE, assigns and unit-norms
  * every vector ONCE, and publishes the result as a cell-bucketed
  * table; every search (and every appended batch) then works against
  * the stored artifact — the corpus parquet is never re-read, vectors
  * are never re-normalized, the quantizer is never re-trained.
  *
  * Core tables per index (plus `<prefix>_cellstats(cell, r_max)` —
  * mergeable per-batch angular-radius partials for
  * [[ivfRangeSearch]]'s cell pruning — and, once published, the PQ
  * layer's `_codes`):
  *   - `<prefix>_codebook(blk, cid, cv: array<double>)` — the trained
  *     coarse quantizer ([[SimilarityOps.trainCodebook]], blocks = 1),
  *     K rows; appended batches are assigned against it FROZEN, the
  *     production contract (retraining would silently move cell
  *     boundaries under every stored vector);
  *   - `<prefix>_vectors(vec_id, cell, u, e: array<double>)` — vectors
  *     bucketed by `cell`, the IVF partition: `u` unit-normed (what
  *     cosine scoring reads), `e` the raw doubles (what centroid
  *     geometry reads — multi-probe ranks cells by l2 from the RAW
  *     query vector, which is not recoverable from `u`). A probe of
  *     cells C reads |C| buckets' worth of files, not the corpus
  *     ([[readCells]] gets static bucket pruning for literal cells;
  *     the search's cell equi-join broadcasts the query side so the
  *     corpus never shuffles), and column pruning keeps `e` out of
  *     every plan that only scores.
  *
  * Determinism: unit-norming at ingest uses the same codegen'd
  * [[SimilarityOps.unitNorm]] expression as the on-the-fly operators
  * and doubles round-trip parquet exactly, so index-served cosines are
  * bit-equal to the corpus-scan face and the unchanged DuckDB oracles.
  */
object VectorIndexOps {

  /** Per-row nearest-centroid projection — the ONLY corpus contact a
    * build or append makes. The K-row codebook collapses to ONE
    * broadcast row (an array of (cid, cv) structs), and each vector
    * computes its argmin cell INLINE — a fold over that array, not a
    * `groupBy(vec_id)` argmin joined back to the corpus: the join-back
    * form ([[SimilarityOps.assignCells]], right for deriving a
    * standalone assignment frame) costs a full shuffle join of the
    * embeddings table plus a second corpus scan, which recurs PER
    * MICRO-BATCH of a vector stream ([[ingestBatch]]). This form makes
    * build and append scan → 1-row broadcast join → project → bucketed
    * write, with no Exchange on the corpus side (VectorIndexSpec pins
    * the plan).
    *
    * Arithmetic is bit-identical to assignCells: same
    * Σ(x−y)² fold per centroid, and `array_min` over (dist, cid)
    * structs is the same dist-then-cid tie order as its
    * `min(struct(dist, cid))` — comparisons are exact, so the
    * collect_list order never matters. Cells therefore match the
    * on-the-fly face exactly and every sim_index_* oracle is unchanged.
    */
  private[graft] def assignedProjection(batch: DataFrame, codebook: DataFrame): DataFrame = {
    val cbs = broadcast(codebook.agg(collect_list(struct(col("cid"), col("cv"))).as("cbs")))
    val e = transform(col("embedding"), x => x.cast("double"))
    val best = array_min(transform(
      col("cbs"),
      c =>
        struct(
          aggregate(
            zip_with(e, c.getField("cv"), (x, y) => (x - y) * (x - y)),
            lit(0.0),
            (acc, d) => acc + d,
          ).as("dist"),
          c.getField("cid").as("cid"),
        ),
    ))
    batch
      .crossJoin(cbs)
      .select(
        col("vec_id"),
        best.getField("cid").as("cell"),
        SimilarityOps.unitNorm(col("embedding")).as("u"),
        e.as("e"),
      )
  }

  /** The cell's fixed REFERENCE POINT for triangle-inequality bounds:
    * the stored coarse centroid projected onto the unit sphere — near
    * the cell's unit vectors, so radii stay tight. Any fixed point
    * makes the bound sound; what matters is that build-time radii and
    * read-time query distances derive it IDENTICALLY from the same
    * stored `cv` doubles (this one shared expression), so the two
    * sides' doubles agree bit-for-bit.
    */
  private def refPoint(cv: Column): Column = {
    val n2 = aggregate(cv, lit(0.0), (acc, x) => acc + x * x)
    transform(cv, x => x / sqrt(n2))
  }

  private def l2(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d))

  /** Per-cell angular-radius partials of one vector batch: (cell,
    * r_max = max ‖u − p(cell)‖) — the geometry [[ivfRangeSearch]]
    * prunes with. Stored as MERGEABLE partials (the lexicon-df
    * discipline): each build/append batch appends its own K'-row max,
    * readers take the max of maxes, so appends never rewrite history.
    * Deletes/purges leave radii as sound OVERestimates (a too-large
    * radius only widens the probe set, never drops a result).
    */
  private def radiusPartials(assigned: DataFrame, codebook: DataFrame): DataFrame =
    assigned
      .select(col("cell"), col("u"))
      .join(
        broadcast(codebook.select(col("cid").as("cell"), refPoint(col("cv")).as("p"))),
        "cell",
      )
      .groupBy(col("cell"))
      .agg(max(l2(col("u"), col("p"))).as("r_max"))

  /** Train the coarse quantizer on `embeddings` (or take a
    * caller-trained `codebook` — training is deterministic, so a
    * caller holding a memoized frame should pass it rather than pay
    * the Lloyd iterations again) and publish both tables (overwriting
    * any previous index at `prefix`).
    */
  def writeIndex(
      embeddings: DataFrame,
      dim: Int,
      isSeed: Column,
      iters: Int,
      buckets: Int,
      prefix: String,
      codebook: Option[DataFrame] = None,
  ): Unit = {
    val cb = codebook.getOrElse(
      SimilarityOps.trainCodebook(embeddings, blocks = 1, subDim = dim, isSeed, iters))
    cb.write.mode("overwrite").saveAsTable(s"${prefix}_codebook")
    assignedProjection(embeddings, cb)
      .write.mode("overwrite")
      .bucketBy(buckets, "cell")
      .saveAsTable(s"${prefix}_vectors")
    // Radius partials from the JUST-WRITTEN table (one narrow (cell, u)
    // scan of the stored artifact, map-side-combinable max → K rows) —
    // the source corpus is still read exactly once per build.
    val stored = embeddings.sparkSession.table(s"${prefix}_vectors")
    radiusPartials(stored, cb)
      .withColumn("batch_key", lit(keyed(stored.select("vec_id"))._2))
      .write.mode("overwrite").saveAsTable(s"${prefix}_cellstats")
    // A rebuilt index is a fresh artifact: stale tombstones would
    // silently hide corpus vectors, and a stale batch ledger would
    // silently skip the new stream's early batch ids.
    embeddings.sparkSession.sql(s"DROP TABLE IF EXISTS ${prefix}_tombstones")
    IndexCatalog.dropLedger(embeddings.sparkSession, prefix)
  }

  /** Delete vectors from the index — the tombstone discipline (the
    * [[EventOps]] q_delete_plan argument applied to the artifact):
    * parquet can't delete in place, so deletes append `vec_id` rows to
    * `<prefix>_tombstones` (created lazily) and every read face
    * anti-joins them out. The tombstone set stays small by contract
    * (deletes are targeted; bulk removal is a rebuild), so the
    * anti-join broadcasts — the corpus is never shuffled by a delete.
    * Idempotent: re-deleting an id adds a redundant row the anti-join
    * ignores. [[appendVectors]] of a tombstoned id re-inserts it
    * (purge-then-append, documented there); [[purgeTombstones]]
    * physically reclaims the space.
    */
  def deleteVectors(spark: SparkSession, prefix: String, ids: DataFrame): Unit = {
    val t = s"${prefix}_tombstones"
    if (!spark.catalog.tableExists(t)) {
      spark.sql(s"CREATE TABLE $t (vec_id BIGINT) USING parquet")
      // The name may have existed before a rebuild dropped it; evict
      // any stale file listing cached under the reused warehouse path.
      spark.catalog.refreshTable(t)
    }
    ids.select(col("vec_id").cast("long")).write.mode("append").saveAsTable(t)
    spark.catalog.refreshTable(t)
  }

  /** A read face's view of an index table: stored rows minus
    * tombstones (broadcast anti-join; zero cost when the index never
    * deleted — the table doesn't exist). Applied to vectors AND codes,
    * so the ADC/IVF-PQ faces can't serve a deleted vector from its
    * stale code row.
    */
  private def live(spark: SparkSession, prefix: String, table: String): DataFrame = {
    val stored = IndexCatalog.readLive(spark, table)
    val t = s"${prefix}_tombstones"
    if (spark.catalog.tableExists(t))
      stored.join(broadcast(spark.table(t)), Seq("vec_id"), "left_anti")
    else stored
  }

  /** Incremental ingest: assign a new batch (vec_ids disjoint from the
    * stored corpus) against the STORED codebook and append — one new
    * file per touched bucket, existing data untouched, through
    * `insertInto` (the stored table's own layout, so an append never
    * goes stale against a rebucketed table). The refresh matters for
    * the same reason as in [[SearchIndexOps]]: a stale relation cache
    * would silently serve pre-append search results.
    */
  def appendVectors(spark: SparkSession, prefix: String, batch: DataFrame): Unit =
    appendVectorsGuarded(spark, prefix, batch, repairing = false)

  /** `frame` checkpointed ([[IndexCatalog.checkpointKeyed]]), with the
    * batch's reproducible identity — its min vec_id (batches carry
    * disjoint vec_id sets, so the minimum is unique AND stable across
    * checkpoint replays; 0 for an empty batch, an inert key); tags the
    * cellstats partials so a crashed partial append is attributable
    * afterwards.
    */
  private def keyed(frame: DataFrame): (DataFrame, Long) = {
    val (f, key) = IndexCatalog.checkpointKeyed(frame, "vec_id")
    (f, key.getOrElse(0L))
  }

  /** The append: vectors, then cellstats ([[IndexCatalog.Appends]]).
    * When `repairing` (a replay of [[ingestBatch]] found an
    * intent-without-commit ledger mark), vectors are located by the
    * batch's vec_ids and cellstats by the batch-key tag its partial
    * rows carry, so exactly the missing appends re-run. `crashAfter` is
    * the spec's fault injection: throw right after the named table's
    * append.
    */
  private[graft] def appendVectorsGuarded(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      repairing: Boolean,
      crashAfter: String = "",
  ): Unit = {
    // Re-insert after delete: a tombstoned id's OLD row is still
    // physically present, so appending a new row and merely clearing
    // the tombstone would resurrect BOTH (duplicate vec_ids). Purge
    // first — old rows physically gone, tombstones cleared — then the
    // appended row is the single live one. Normal appends (no overlap
    // with tombstones) skip this entirely.
    val tomb = s"${prefix}_tombstones"
    // Short-circuit on the tiny tombstone table FIRST so the common
    // no-deletes append never runs a batch-side job for this check.
    if (spark.catalog.tableExists(tomb) && !spark.table(tomb).isEmpty &&
        !batch.join(broadcast(spark.table(tomb)), Seq("vec_id"), "left_semi").isEmpty)
      purgeTombstones(spark, prefix)
    val cb = spark.table(s"${prefix}_codebook")
    // Assign ONCE and materialize: the projection feeds two appends
    // (vectors + radius partials), and the batch source should be
    // scanned — and the codebook argmin broadcast-joined — once per
    // append, not once per output table. The checkpoint is
    // batch-sized; the stored corpus is never touched by an append
    // (VectorIndexSpec pins the plan).
    val (assigned, bk) = keyed(assignedProjection(batch, cb))
    val append = new IndexCatalog.Appends(spark, prefix, assigned, repairing, idCol = "vec_id")
    append(new IndexCatalog.Append("vectors", assigned))
    if (crashAfter == "vectors")
      throw new IllegalStateException("injected crash after vectors append")
    // The batch's radius partials ride along as an APPEND (readers max
    // over partials, so history is never rewritten), tagged with the
    // batch key. Indexes built before cellstats existed simply lack
    // the table ([[ivfRangeSearch]] then probes every cell — correct,
    // unpruned).
    if (spark.catalog.tableExists(s"${prefix}_cellstats")) {
      append(new IndexCatalog.Append(
        "cellstats",
        radiusPartials(assigned, cb).withColumn("batch_key", lit(bk)),
        Some(IndexCatalog.taggedWith(spark, bk))))
      if (crashAfter == "cellstats")
        throw new IllegalStateException("injected crash after cellstats append")
    }
  }

  /** Physically drop tombstoned rows: stage-rewrite vectors (and
    * codes) WITHOUT them at the current bucket count — readers are
    * served throughout, the swap is the rename-first commit — then
    * drop the tombstone table. Deletes stay deleted (the rows are
    * gone) and the tombstone table is TRUNCATED — kept, not dropped:
    * truncation is the one catalog path that reliably evicts the
    * file-listing caches for a name about to be reused (a
    * drop-and-recreate cycle was measured serving the dropped files'
    * listing to the next read). Run it when the tombstone set outgrows
    * broadcast comfort, or implicitly on re-insert
    * ([[appendVectors]]). Returns the rewritten tables (empty =
    * nothing tombstoned).
    */
  def purgeTombstones(spark: SparkSession, prefix: String): Seq[String] = {
    val tomb = s"${prefix}_tombstones"
    if (!spark.catalog.tableExists(tomb) || spark.table(tomb).isEmpty) Nil
    else {
      val tables = IndexCatalog.VectorIndex.maintained(spark, prefix)
      IndexCatalog.swapStaged(
        spark, tables.map(t => IndexCatalog.stageTableFrom(spark, t, live(spark, prefix, t))))
      spark.sql(s"TRUNCATE TABLE $tomb")
      tables
    }
  }

  /** IVF search over the stored artifact — same semantics (and tie
    * contract) as [[SimilarityOps.ivfTopK]] over a trained assignment,
    * but both the query vectors and the searched cells come from the
    * index: queries (selected by `isQuery` on vec_id) broadcast with
    * their stored cell, the corpus side is one cell equi-join against
    * the bucketed table, scores are dots of STORED unit vectors.
    */
  def ivfTopK(spark: SparkSession, prefix: String, isQuery: Column, k: Int): DataFrame = {
    val v = live(spark, prefix, s"${prefix}_vectors")
    val queries = broadcast(
      v.filter(isQuery).select(col("vec_id").as("query_id"), col("u").as("qu"), col("cell")),
    )
    val scored = queries
      .join(v, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        SimilarityOps.dot(col("qu"), col("u")).as("cosine"),
      )
    SimilarityOps.rankTopK(scored, "cosine", ascending = false, k)
  }

  /** Radius (range) search over the stored artifact — every neighbor
    * with cosine ≥ `minCosine`, with WHOLE CELLS pruned before any
    * vector is scored: for unit vectors, cos(q,x) ≥ τ ⟺ ‖qu−u‖ ≤
    * √(2−2τ), and the triangle inequality gives ‖qu−u‖ ≥ ‖qu−p(c)‖ −
    * r_max(c) for every member of cell c — so a cell with ‖qu−p(c)‖ >
    * r_max(c) + √(2−2τ) cannot contain a result and is never read.
    * The bound only PRUNES (a hair of float slack keeps it
    * conservative); membership is decided by the exact cosine filter —
    * the same predicate over the same stored unit vectors as
    * [[SimilarityOps.rangeSearch]], so the faces are bit-equal and
    * share one oracle. Plan shape: K-row stats and query side
    * broadcast, the corpus contact is the surviving cells' buckets via
    * one cell equi-join. Indexes without a `_cellstats` table (built
    * before it existed) fall back to probing every cell — correct,
    * just unpruned.
    */
  def ivfRangeSearch(
      spark: SparkSession,
      prefix: String,
      isQuery: Column,
      minCosine: Double,
  ): DataFrame = {
    val v = live(spark, prefix, s"${prefix}_vectors")
    val queries = broadcast(
      v.filter(isQuery).select(col("vec_id").as("query_id"), col("u").as("qu")),
    )
    val candidates =
      if (spark.catalog.tableExists(s"${prefix}_cellstats")) {
        val cb = spark.table(s"${prefix}_codebook")
        val cells = spark.table(s"${prefix}_cellstats")
          .groupBy(col("cell")).agg(max(col("r_max")).as("r_max"))
          .join(
            broadcast(cb.select(col("cid").as("cell"), refPoint(col("cv")).as("p"))),
            "cell",
          )
        val thresholdDist = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCosine))
        val probe = queries
          .crossJoin(broadcast(cells))
          .filter(l2(col("qu"), col("p")) <= col("r_max") + lit(thresholdDist) + lit(1e-6))
          .select(col("query_id"), col("qu"), col("cell"))
        broadcast(probe).join(v, Seq("cell"))
      } else queries.crossJoin(v)
    candidates
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        SimilarityOps.dot(col("qu"), col("u")).as("cosine"),
      )
      .filter(col("cosine") >= minCosine)
      .orderBy("query_id", "neighbor_id")
  }

  /** Publish the PQ compression layer over an existing index at
    * `prefix`: the (caller-trained) PQ codebook and each vector's
    * packed code — the representation that lets a read scan billions
    * of vectors as one long each. The codebook is stored FROZEN, same
    * contract as the coarse quantizer.
    */
  def writePqCodes(
      embeddings: DataFrame,
      pqCodebook: DataFrame,
      blocks: Int,
      subDim: Int,
      nSeeds: Int,
      buckets: Int,
      prefix: String,
  ): Unit = {
    val spark = embeddings.sparkSession
    pqCodebook.write.mode("overwrite").saveAsTable(s"${prefix}_pq_codebook")
    // Codes carry their coarse cell (read from the stored assignment —
    // one source of truth) and bucket on it: the IVF-PQ read touches
    // only probed cells' code files.
    SimilarityOps
      .pqEncodeWith(embeddings, blocks, subDim, pqCodebook, nSeeds)
      .join(spark.table(s"${prefix}_vectors").select(col("vec_id"), col("cell")), "vec_id")
      .select(col("vec_id"), col("cell"), col("pq_code"))
      .write.mode("overwrite")
      .bucketBy(buckets, "cell")
      .saveAsTable(s"${prefix}_codes")
  }

  /** ADC search over STORED codes — the corpus contact is a scan of
    * the codes table (one long per vector, no raw vectors touched);
    * query sub-vectors come from the index's stored raw doubles, the
    * LUT from the stored PQ codebook. Same scoring tail as the
    * on-the-fly trained-ADC path ([[SimilarityOps.adcTopKFrom]] is
    * shared), so results are bit-equal and the oracle unchanged.
    */
  def adcTopK(
      spark: SparkSession,
      prefix: String,
      blocks: Int,
      subDim: Int,
      nSeeds: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame = {
    val corpusCodes = SimilarityOps.explodeCodes(
      live(spark, prefix, s"${prefix}_codes"), blocks, nSeeds)
    val blocksArr = array((0 until blocks).map(b => slice(col("e"), b * subDim + 1, subDim)): _*)
    val qBlocks = live(spark, prefix, s"${prefix}_vectors")
      .filter(isQuery)
      .select(col("vec_id").as("query_id"), posexplode(blocksArr).as(Seq("blk", "qv")))
    SimilarityOps.adcTopKFrom(qBlocks = qBlocks, corpusCodes = corpusCodes,
      codebook = spark.table(s"${prefix}_pq_codebook"), k = k)
  }

  /** IVF-PQ from the store — the composed billion-scale read over
    * nothing but artifacts: probe ranking from stored raw doubles ×
    * stored coarse codebook, per-query LUT from stored raw slices ×
    * stored PQ codebook, corpus contact = the cell-bucketed codes of
    * the probed cells only. Shares the on-the-fly
    * [[SimilarityOps.ivfPqTopKFrom]] tail, so results are bit-equal and
    * the oracle unchanged.
    */
  def ivfPqTopK(
      spark: SparkSession,
      prefix: String,
      blocks: Int,
      subDim: Int,
      nSeeds: Int,
      nprobe: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame = {
    val v = live(spark, prefix, s"${prefix}_vectors")
    val coarse = spark.table(s"${prefix}_codebook")
    val corpusCodes = SimilarityOps.explodeCodes(
      live(spark, prefix, s"${prefix}_codes"), blocks, nSeeds, keep = Seq("vec_id", "cell"))
    val cdist = aggregate(
      zip_with(col("e"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    val probeCells = broadcast(
      v.filter(isQuery)
        .crossJoin(broadcast(coarse.select(col("cid"), col("cv"))))
        .select(col("vec_id"), col("cid"), cdist.as("dist"))
        .groupBy(col("vec_id"))
        .agg(graft.expressions.TopKPairs.topK(col("dist"), col("cid"), nprobe, ascending = true).as("tk"))
        .select(col("vec_id").as("query_id"), explode(col("tk.id")).as("cell")),
    )
    val blocksArr = array((0 until blocks).map(b => slice(col("e"), b * subDim + 1, subDim)): _*)
    val qBlocks = v
      .filter(isQuery)
      .select(col("vec_id").as("query_id"), posexplode(blocksArr).as(Seq("blk", "qv")))
    SimilarityOps.ivfPqTopKFrom(
      corpusCodes, probeCells, qBlocks, spark.table(s"${prefix}_pq_codebook"), k)
  }

  /** Two-stage retrieval from the artifact — the complete production
    * serving path over stored data: stage 1 nominates R candidates per
    * query from the codes table alone ([[adcTopK]]); stage 2 fetches
    * ONLY those rows' stored unit vectors (broadcast-hash join on
    * vec_id — the vectors table is never shuffled) and re-ranks by
    * exact cosine. Same tie contract as the on-the-fly
    * [[SimilarityOps.rerankExact]] composition, so results are
    * bit-equal and the oracle unchanged.
    */
  def rerankTopK(
      spark: SparkSession,
      prefix: String,
      blocks: Int,
      subDim: Int,
      nSeeds: Int,
      isQuery: Column,
      r: Int,
      k: Int,
  ): DataFrame = {
    val v = live(spark, prefix, s"${prefix}_vectors")
    val cand = broadcast(
      adcTopK(spark, prefix, blocks, subDim, nSeeds, isQuery, r)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(),
    )
    val qv = broadcast(
      v.join(cand.select(col("query_id")).distinct(), col("vec_id") === col("query_id"))
        .select(col("query_id"), col("u").as("qu")),
    )
    val scored = v
      .join(cand, col("vec_id") === col("neighbor_id"))
      .join(qv, "query_id")
      .select(
        col("query_id"),
        col("neighbor_id"),
        SimilarityOps.dot(col("qu"), col("u")).as("cosine"),
      )
    SimilarityOps.rankTopK(scored, "cosine", ascending = false, k)
  }

  /** Multi-probe IVF search from the artifact — the nprobe recall knob
    * over stored data: each query ranks the STORED codebook's centroids
    * by l2 from its STORED raw vector (broadcast codebook, bounded
    * top-P aggregate), searches its `nprobe` nearest cells; the corpus
    * keeps its single stored cell, so the cell equi-join remains the
    * only corpus-side contact and each (query, corpus) pair arises at
    * most once. Same semantics (and oracle) as
    * [[SimilarityOps.ivfMultiProbeTopK]] over a trained quantizer.
    */
  def ivfMultiProbeTopK(
      spark: SparkSession,
      prefix: String,
      nprobe: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame = {
    val v = live(spark, prefix, s"${prefix}_vectors")
    val cb = spark.table(s"${prefix}_codebook")
    val dist = aggregate(
      zip_with(col("e"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    val probeCells = v
      .filter(isQuery)
      .crossJoin(broadcast(cb.select(col("cid"), col("cv"))))
      .select(col("vec_id"), col("cid"), dist.as("dist"))
      .groupBy(col("vec_id"))
      .agg(graft.expressions.TopKPairs.topK(col("dist"), col("cid"), nprobe, ascending = true).as("tk"))
      .select(col("vec_id").as("query_id"), explode(col("tk.id")).as("cell"))
    val queries = broadcast(
      v.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("u").as("qu"))
        .join(probeCells, "query_id"),
    )
    val scored = queries
      .join(v, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        SimilarityOps.dot(col("qu"), col("u")).as("cosine"),
      )
    SimilarityOps.rankTopK(scored, "cosine", ascending = false, k)
  }

  /** One replay-safe, crash-repairable ingest step — the per-batch
    * step of a continuous vector stream ([[IndexCatalog.stream]]) — the
    * ingest ledger ([[IndexCatalog.ledgered]]) on the vector face, keyed
    * by the micro-batch id, prefixed with the stream's persistent query
    * id when it runs inside a streaming query. The ledger is the right
    * guard HERE: the vectors table is bucketed by `cell`, so an
    * anti-join on vec_id would shuffle the stored corpus once per
    * micro-batch, while the ledger check is two file-existence checks
    * on the driver (no Spark job, O(1) corpus contact). The query id
    * and the micro-batch ids are both stable across checkpoint
    * replays, so a committed batch replays to a wholesale skip and
    * vec_ids stay unique (VectorIndexSpec replays a batch and asserts
    * it). Epoch ids alone restart at 0 with every fresh checkpoint; the
    * query id (new per checkpoint) keeps a re-pointed stream over the
    * same index from aliasing the previous stream's batches
    * (VectorIndexSpec runs two such streams). A repairing replay runs
    * the two appends (vectors, then cellstats partials)
    * presence-guarded ([[appendVectorsGuarded]]), so exactly the
    * missing appends re-run (VectorIndexSpec kills the sequence between
    * the two appends and asserts the replayed index is bit-equal).
    */
  private[graft] def ingestBatch(
      spark: SparkSession,
      prefix: String,
      batch: DataFrame,
      batchId: Long,
      crashAfter: String = "",
  ): Unit = {
    val stream = Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
    IndexCatalog.ledgered(spark, prefix, stream.fold(batchId.toString)(q => s"$q/$batchId")) {
      repairing => appendVectorsGuarded(spark, prefix, batch, repairing, crashAfter)
    }
  }

  /** Literal-cell read — the serving-side primitive: a probe list of
    * cell ids reads ONLY those cells' buckets (static bucket pruning on
    * the `cell` isin predicate; VectorIndexSpec asserts
    * SelectedBucketsCount < buckets).
    *
    * Caveat (measured on Spark 4.1): `DisableUnnecessaryBucketedScan`
    * drops the bucketed layout — and with it the bucket pruning — for
    * a bare filter+scan plan, because nothing downstream consumes the
    * partitioning; the pruned read comes back under
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` (what
    * a serving deployment doing point probes runs with) or whenever the
    * probe feeds an aggregate/join that uses the bucketing, as every
    * real consumer here does. Parquet row-group skipping on the pushed
    * `In` filter still applies either way.
    */
  def readCells(spark: SparkSession, prefix: String, cells: Seq[Long]): DataFrame =
    live(spark, prefix, s"${prefix}_vectors").filter(col("cell").isin(cells: _*))
}
