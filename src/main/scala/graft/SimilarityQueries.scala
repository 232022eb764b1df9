package graft

import org.apache.spark.sql.functions.col
import graft.operators.SimilarityOps
import Tables.embeddings
import OracleSnippets._

/** Similarity-search queries over `embeddings` (SURVEY.md §7.2 M4):
  * exact brute-force cosine top-k as the correctness baseline, plus the
  * two scale paths (sign-LSH buckets, IVF cells). Scores are strict
  * left-fold doubles, so even the top-k *ordering* is bit-reproducible
  * in the DuckDB oracle.
  */
object SimilarityQueries {

  /** Query set: the first ten vectors. */
  private val QueryPred = "vec_id < 10"
  private val TopK = 5
  private val BucketK = 3

  /** Probe dims for the sign-LSH: every 8th dimension (axis-aligned
    * hyperplanes) → 256 buckets over the corpus.
    */
  private val ProbeDims: Seq[Int] = 0 until 64 by 8

  /** The trained codebook of one (blocks, subDim) layout, a shared
    * [[Tables.once]] value. Every trained-path consumer in this registry
    * trains the same codebook — same dataset, same seed rows
    * (vec_id < 8), same 2-step Lloyd unroll — and
    * [[SimilarityOps.trainCodebook]] is deterministic, so one bench or
    * verify pass was re-running identical iterative training ~6×
    * (~15 s/pass at sf0.1). Every later consumer gets the
    * localCheckpointed ≤32-row frame.
    */
  private def trainedCb(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      blocks: Int,
      subDim: Int,
  ): org.apache.spark.sql.DataFrame =
    Tables.once(s, ("codebook", d, blocks, subDim)) {
      SimilarityOps.trainCodebook(
        embeddings(s, d), blocks, subDim, isSeed = col("vec_id") < 8, iters = 2)
    }

  /** The 4/5-subset codebook sim_index_incremental builds on — shared
    * like [[trainedCb]] (training is deterministic and the writeIndex
    * contract says a caller holding a memoized frame should pass it
    * rather than re-pay the Lloyd iterations; what the incremental
    * query TESTS is the build + append + frozen-assignment path, not
    * k-means convergence).
    */
  private def trainedCbMod5(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame =
    Tables.once(s, ("codebook_mod5", d)) {
      SimilarityOps.trainCodebook(
        embeddings(s, d).filter(col("vec_id") % 5 =!= 0),
        blocks = 1, subDim = 64, isSeed = col("vec_id") < 8, iters = 2)
    }

  /** The full-corpus vector index, a shared [[Tables.artifact]] whose
    * coarse codebook comes from [[trainedCb]] instead of retraining. The
    * incremental query builds its own (its build + append IS the test).
    */
  private[graft] def fullVectorIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    Tables.artifact(s, "vec", "full", d) { pre =>
      graft.operators.VectorIndexOps.writeIndex(
        embeddings(s, d), dim = 64, isSeed = col("vec_id") < 8, iters = 2,
        buckets = 8, prefix = pre,
        codebook = Some(trainedCb(s, d, blocks = 1, subDim = 64)))
    }

  /** The PQ compression layer over the full vector index, codebook from
    * [[trainedCb]]. It lives under the vector index's prefix, so its
    * memo key is its own: a key on the prefix would find the vector
    * index built and never write `_codes`.
    */
  private[graft] def fullPqIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    Tables.once(s, ("vec_pq", d)) {
      val pre = fullVectorIndex(s, d)
      graft.operators.VectorIndexOps.writePqCodes(
        embeddings(s, d), trainedCb(s, d, blocks = 4, subDim = 16),
        blocks = 4, subDim = 16, nSeeds = 8, buckets = 8, prefix = pre)
      pre
    }

  /** Eagerly builds the shared vector index + its PQ layer for `d`
    * (no-op when already built) — the TextQueries.prepareSharedArtifacts
    * twin, called from Bench's un-timed setup phase.
    */
  def prepareSharedArtifacts(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    fullPqIndex(s, d); ()
  }

  /** Oracle for the PQ code table — shared by sim_pq_codes and (as the
    * code source) sim_pq_adc.
    */
  private val pqCodesSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |bx AS (SELECT vec_id, e, unnest(generate_series(0, 3)) AS blk FROM v),
       |sv AS (SELECT vec_id, blk, e[blk*16+1 : blk*16+16] AS sv FROM bx),
       |cb AS (SELECT vec_id AS cid, blk, sv AS cv FROM sv WHERE vec_id < 8),
       |dst AS (SELECT s.vec_id, s.blk, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |        FROM sv s JOIN cb c ON s.blk = c.blk),
       |am AS (SELECT vec_id, blk, cid, dist FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id, blk
       |                     ORDER BY dist, cid) AS rn FROM dst)
       |       WHERE rn = 1)
       |SELECT vec_id,
       |  CAST(sum(cid * power(8, blk)) AS BIGINT) AS pq_code,
       |  list_reduce(list_prepend(0.0, list(dist ORDER BY blk)),
       |              (pqa, pqb) -> pqa + pqb) AS recon_err
       |FROM am GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** CTE chain producing the TRAINED per-block codebook `cb2` (plus the
    * sub-vector frame `sv` consumers join against): seed sub-vectors
    * `cb0`, then two unrolled Lloyd steps — assignment argmin (ties →
    * lowest cid) and per-dim fixed-point scaled-BIGINT means
    * (`OracleSnippets.fpMeanAgg`), exactly
    * `SimilarityOps.trainCodebook`'s deterministic contract. blocks=4/
    * subDim=16 is the PQ layout (sim_pq_train, sim_pq_adc_trained);
    * blocks=1/subDim=64 is plain k-means over the full vector — the
    * IVF coarse quantizer (sim_ivf_trained). The `pre` prefix renames
    * every CTE so two independent trained codebooks (coarse + PQ, as
    * sim_ivfpq composes) can share one WITH chain without collisions.
    * `srcSql` overrides the vector source (must yield (vec_id, e) with
    * e DOUBLE[]) — the residual-PQ oracle trains on residuals, not on
    * the embeddings table.
    */
  private def trainedCbCtes(
      blocks: Int,
      subDim: Int,
      pre: String = "",
      srcSql: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings",
  ): String = {
    // One Lloyd step: codebook CTE `from` → assignment → per-dim
    // ordered-fold means → codebook CTE `to`.
    def lloyd(i: Int, from: String, to: String): String =
      s"""${pre}d$i AS (SELECT s.vec_id, s.blk, s.sv, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
         |        FROM ${pre}sv s JOIN $from c ON s.blk = c.blk),
         |${pre}a$i AS (SELECT vec_id, blk, sv, cid FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id, blk
         |                      ORDER BY dist, cid) AS rn FROM ${pre}d$i)
         |        WHERE rn = 1),
         |${pre}x$i AS (SELECT vec_id, blk, cid, unnest(sv) AS xd,
         |          generate_subscripts(sv, 1) AS pos FROM ${pre}a$i),
         |${pre}m$i AS (SELECT blk, cid, pos,
         |          ${fpMeanAgg("xd")} AS c
         |        FROM ${pre}x$i GROUP BY blk, cid, pos),
         |$to AS (SELECT blk, cid, list(c ORDER BY pos) AS cv
         |        FROM ${pre}m$i GROUP BY blk, cid)""".stripMargin
    s"""${pre}v AS ($srcSql),
       |${pre}bx AS (SELECT vec_id, e, unnest(generate_series(0, ${blocks - 1})) AS blk FROM ${pre}v),
       |${pre}sv AS (SELECT vec_id, blk, e[blk*$subDim+1 : blk*$subDim+$subDim] AS sv FROM ${pre}bx),
       |${pre}cb0 AS (SELECT blk, vec_id AS cid, sv AS cv FROM ${pre}sv WHERE vec_id < 8),
       |${lloyd(1, s"${pre}cb0", s"${pre}cb1")},
       |${lloyd(2, s"${pre}cb1", s"${pre}cb2")}""".stripMargin
  }

  /** The trained-IVF search (build + assign + within-cell top-k) and
    * its oracle — shared by sim_ivf_trained and sim_ivf_recall.
    */
  private def ivfTrainedTopK(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = embeddings(s, d)
    val cb = trainedCb(s, d, blocks = 1, subDim = 64)
    val withCell = emb.join(SimilarityOps.assignCells(emb, cb), "vec_id")
    SimilarityOps.ivfTopK(withCell, col("vec_id") < 10, col("cell"), BucketK)
  }

  /** The trained-IVF candidate chain (train → assign → unit-norm →
    * same-cell scored pairs `p`) — the shared prefix of the
    * index-served top-k and kNN-classify oracles.
    */
  private val ivfTrainedCandCtes: String =
    s"""${trainedCbCtes(1, 64)},
       |asgd AS (SELECT s.vec_id, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM sv s JOIN cb2 c ON s.blk = c.blk),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY dist, cid) AS rn FROM asgd)
       |        WHERE rn = 1),
       |n AS (SELECT v.vec_id, ${unitNorm("e")} AS u, a.cell
       |      FROM v JOIN asg a ON a.vec_id = v.vec_id),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        ${dot("q.u", "c.u")} AS cosine
       |      FROM n q JOIN n c
       |        ON q.vec_id < 10 AND q.vec_id <> c.vec_id AND q.cell = c.cell)""".stripMargin

  private val ivfTrainedSql: String =
    s"""WITH $ivfTrainedCandCtes
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM p)
       |WHERE rank <= $BucketK
       |ORDER BY query_id, rank""".stripMargin

  /** Oracle of the INCREMENTALLY-built vector index: the coarse
    * quantizer trains only on the initially-indexed subset (vec_id % 5
    * <> 0 — including which seed rows survive the subset), but
    * assignment and search run over the FULL corpus, exactly what
    * "append against the frozen stored codebook" means. Everything
    * after training is ivfTrainedSql's tail over full-corpus frames.
    */
  private val ivfIndexIncrSql: String = {
    val trainSrc =
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 5 <> 0"
    s"""WITH ${trainedCbCtes(1, 64, "t", trainSrc)},
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |fsv AS (SELECT vec_id, 0 AS blk, e AS sv FROM v),
       |asgd AS (SELECT s.vec_id, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM fsv s JOIN tcb2 c ON s.blk = c.blk),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY dist, cid) AS rn FROM asgd)
       |        WHERE rn = 1),
       |n AS (SELECT v.vec_id, ${unitNorm("e")} AS u, a.cell
       |      FROM v JOIN asg a ON a.vec_id = v.vec_id),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        ${dot("q.u", "c.u")} AS cosine
       |      FROM n q JOIN n c
       |        ON q.vec_id < 10 AND q.vec_id <> c.vec_id AND q.cell = c.cell)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM p)
       |WHERE rank <= $BucketK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Oracle of the tombstone-delete read: training, assignment, and
    * the stored artifact are all FULL-corpus (deletes never move the
    * frozen quantizer or other vectors' cells — that's the point of a
    * tombstone), but the deleted ids are excluded from both sides of
    * the search: everything is ivfTrainedSql except the `n` frame's
    * exclusion predicate.
    */
  private val ivfDeleteSql: String =
    s"""WITH ${trainedCbCtes(1, 64)},
       |asgd AS (SELECT s.vec_id, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM sv s JOIN cb2 c ON s.blk = c.blk),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY dist, cid) AS rn FROM asgd)
       |        WHERE rn = 1),
       |n AS (SELECT v.vec_id, ${unitNorm("e")} AS u, a.cell
       |      FROM v JOIN asg a ON a.vec_id = v.vec_id
       |      WHERE v.vec_id % 7 <> 3),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        ${dot("q.u", "c.u")} AS cosine
       |      FROM n q JOIN n c
       |        ON q.vec_id < 10 AND q.vec_id <> c.vec_id AND q.cell = c.cell)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM p)
       |WHERE rank <= $BucketK
       |ORDER BY query_id, rank""".stripMargin

  /** nprobe for the multi-probe trained-IVF search (of 8 trained cells). */
  private val IvfNProbe = 2

  /** Multi-probe search over the TRAINED coarse quantizer and its
    * oracle — shared by sim_ivf_multiprobe and its recall scoreboard.
    */
  private def ivfMultiProbeTrained(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = embeddings(s, d)
    val cb = trainedCb(s, d, blocks = 1, subDim = 64)
    SimilarityOps.ivfMultiProbeTopK(emb, cb, IvfNProbe, col("vec_id") < 10, BucketK)
  }

  private val ivfMultiProbeSql: String =
    s"""WITH ${trainedCbCtes(1, 64)},
       |asgd AS (SELECT s.vec_id, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM sv s JOIN cb2 c ON s.blk = c.blk),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY dist, cid) AS rn FROM asgd)
       |        WHERE rn = 1),
       |qc AS (SELECT vec_id AS query_id, cid AS cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY dist, cid) AS rn FROM asgd WHERE vec_id < 10)
       |       WHERE rn <= $IvfNProbe),
       |n AS (SELECT v.vec_id, ${unitNorm("e")} AS u, a.cell
       |      FROM v JOIN asg a ON a.vec_id = v.vec_id),
       |p AS (SELECT qc.query_id, c.vec_id AS neighbor_id,
       |        ${dot("qn.u", "c.u")} AS cosine
       |      FROM qc JOIN n qn ON qn.vec_id = qc.query_id
       |        JOIN n c ON c.cell = qc.cell AND c.vec_id <> qc.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM p)
       |WHERE rank <= $BucketK
       |ORDER BY query_id, rank""".stripMargin

  /** IVF-PQ: the composed read path (trained coarse quantizer + trained
    * PQ codes + probed-cell ADC scan) and its oracle — shared by
    * sim_ivfpq and its recall scoreboard. Both codebooks train from the
    * same seed rows with the same 2-step Lloyd unroll.
    */
  private def ivfPqTrained(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = embeddings(s, d)
    val coarse = trainedCb(s, d, blocks = 1, subDim = 64)
    val pq = trainedCb(s, d, blocks = 4, subDim = 16)
    SimilarityOps.ivfPqTopK(emb, coarse, pq, blocks = 4, subDim = 16,
      nSeeds = 8, nprobe = IvfNProbe, isQuery = col("vec_id") < 10, k = 5)
  }

  private val ivfPqSql: String =
    s"""WITH ${trainedCbCtes(1, 64, "g")},
       |${trainedCbCtes(4, 16, "p")},
       |asgd AS (SELECT s.vec_id, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM gsv s JOIN gcb2 c ON s.blk = c.blk),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY dist, cid) AS rn FROM asgd)
       |        WHERE rn = 1),
       |qc AS (SELECT vec_id AS query_id, cid AS cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY dist, cid) AS rn FROM asgd WHERE vec_id < 10)
       |       WHERE rn <= $IvfNProbe),
       |pdst AS (SELECT s.vec_id, s.blk, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM psv s JOIN pcb2 c ON s.blk = c.blk),
       |am AS (SELECT vec_id, blk, cid FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id, blk
       |                     ORDER BY dist, cid) AS rn FROM pdst)
       |       WHERE rn = 1),
       |qb AS (SELECT vec_id AS query_id, blk, sv AS qv FROM psv WHERE vec_id < 10),
       |lut AS (SELECT q.query_id, q.blk, c.cid, ${l2sq("q.qv", "c.cv")} AS d
       |        FROM qb q JOIN pcb2 c ON q.blk = c.blk),
       |sc AS (SELECT qc.query_id, a.vec_id,
       |         list_reduce(list_prepend(0.0, list(l.d ORDER BY l.blk)),
       |                     (iva, ivb) -> iva + ivb) AS approx_dist
       |       FROM am a JOIN asg g ON g.vec_id = a.vec_id
       |         JOIN qc ON qc.cell = g.cell
       |         JOIN lut l ON l.query_id = qc.query_id
       |           AND l.blk = a.blk AND l.cid = a.cid
       |       GROUP BY qc.query_id, a.vec_id)
       |SELECT query_id, neighbor_id, approx_dist, rank FROM (
       |  SELECT query_id, vec_id AS neighbor_id, approx_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY approx_dist, vec_id) AS INT) AS rank
       |  FROM sc WHERE query_id <> vec_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Residual IVF-PQ (PQ trained on and coding vec − c_cell, per-cell
    * query LUTs) and its oracle — shared by sim_ivfpq_res and its
    * recall scoreboard.
    */
  private def ivfPqResidual(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = embeddings(s, d)
    val coarse = trainedCb(s, d, blocks = 1, subDim = 64)
    SimilarityOps.ivfPqResidualTopK(emb, coarse, blocks = 4, subDim = 16,
      nSeeds = 8, nprobe = IvfNProbe, isSeed = col("vec_id") < 8, iters = 2,
      isQuery = col("vec_id") < 10, k = 5)
  }

  private val ivfPqResidualSql: String =
    s"""WITH ${trainedCbCtes(1, 64, "g")},
       |asgd AS (SELECT s.vec_id, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM gsv s JOIN gcb2 c ON s.blk = c.blk),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY dist, cid) AS rn FROM asgd)
       |        WHERE rn = 1),
       |rv AS (SELECT v.vec_id, a.cell,
       |         list_transform(generate_series(1, 64),
       |           rsi -> v.e[rsi] - c.cv[rsi]) AS e
       |       FROM gv v JOIN asg a ON a.vec_id = v.vec_id
       |         JOIN gcb2 c ON c.cid = a.cell),
       |${trainedCbCtes(4, 16, "p", "SELECT vec_id, e FROM rv")},
       |pdst AS (SELECT s.vec_id, s.blk, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |         FROM psv s JOIN pcb2 c ON s.blk = c.blk),
       |am AS (SELECT vec_id, blk, cid FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id, blk
       |                     ORDER BY dist, cid) AS rn FROM pdst)
       |       WHERE rn = 1),
       |qc AS (SELECT vec_id AS query_id, cid AS cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY dist, cid) AS rn FROM asgd WHERE vec_id < 10)
       |       WHERE rn <= $IvfNProbe),
       |qr AS (SELECT qc.query_id, qc.cell,
       |         list_transform(generate_series(1, 64),
       |           qsi -> v.e[qsi] - c.cv[qsi]) AS qe
       |       FROM qc JOIN gv v ON v.vec_id = qc.query_id
       |         JOIN gcb2 c ON c.cid = qc.cell),
       |qb AS (SELECT query_id, cell, blk, qe[blk*16+1 : blk*16+16] AS qv
       |       FROM (SELECT *, unnest(generate_series(0, 3)) AS blk FROM qr)),
       |lut AS (SELECT q.query_id, q.cell, q.blk, c.cid, ${l2sq("q.qv", "c.cv")} AS d
       |        FROM qb q JOIN pcb2 c ON q.blk = c.blk),
       |sc AS (SELECT l.query_id, a.vec_id,
       |         list_reduce(list_prepend(0.0, list(l.d ORDER BY l.blk)),
       |                     (iva, ivb) -> iva + ivb) AS approx_dist
       |       FROM am a JOIN asg g ON g.vec_id = a.vec_id
       |         JOIN lut l ON l.cell = g.cell AND l.blk = a.blk AND l.cid = a.cid
       |       GROUP BY l.query_id, a.vec_id)
       |SELECT query_id, neighbor_id, approx_dist, rank FROM (
       |  SELECT query_id, vec_id AS neighbor_id, approx_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY approx_dist, vec_id) AS INT) AS rank
       |  FROM sc WHERE query_id <> vec_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Trained-ADC scan CTE chain (trained codebook → argmin codes →
    * per-query LUT → summed approximate distances as `sc`) — shared by
    * the sim_pq_adc_trained oracle and the re-rank oracle, which differ
    * only in what they do with `sc`. Also defines `v` (vec_id, e) for
    * consumers needing raw doubles.
    */
  private val adcScanCtes: String =
    s"""${trainedCbCtes(4, 16)},
       |dst AS (SELECT s.vec_id, s.blk, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
       |        FROM sv s JOIN cb2 c ON s.blk = c.blk),
       |am AS (SELECT vec_id, blk, cid FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id, blk
       |                     ORDER BY dist, cid) AS rn FROM dst)
       |       WHERE rn = 1),
       |qb AS (SELECT vec_id AS query_id, blk, sv AS qv FROM sv WHERE vec_id < 10),
       |lut AS (SELECT q.query_id, q.blk, c.cid, ${l2sq("q.qv", "c.cv")} AS d
       |        FROM qb q JOIN cb2 c ON q.blk = c.blk),
       |sc AS (SELECT l.query_id, a.vec_id,
       |         list_reduce(list_prepend(0.0, list(l.d ORDER BY l.blk)),
       |                     (ata, atb) -> ata + atb) AS approx_dist
       |       FROM am a JOIN lut l ON a.blk = l.blk AND a.cid = l.cid
       |       GROUP BY l.query_id, a.vec_id)""".stripMargin

  private val adcTrainedSql: String =
    s"""WITH $adcScanCtes
       |SELECT query_id, neighbor_id, approx_dist, rank FROM (
       |  SELECT query_id, vec_id AS neighbor_id, approx_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY approx_dist, vec_id) AS INT) AS rank
       |  FROM sc WHERE query_id <> vec_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Stage-1 candidate count for the two-stage re-rank read path. */
  private val RerankR = 20

  /** Two-stage retrieval: trained-ADC candidates (top-R by approximate
    * distance) re-ranked by exact cosine over raw vectors — shared by
    * sim_rerank and its scoreboard.
    */
  private def rerankTrained(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = embeddings(s, d)
    val cb = trainedCb(s, d, blocks = 4, subDim = 16)
    val cand = SimilarityOps.pqAdcTopK(emb, blocks = 4, subDim = 16, codebook = cb,
      nSeeds = 8, isQuery = col("vec_id") < 10, k = RerankR)
    SimilarityOps.rerankExact(emb, cand, TopK)
  }

  private val rerankSql: String =
    s"""WITH $adcScanCtes,
       |cand AS (SELECT query_id, vec_id AS neighbor_id FROM (
       |           SELECT query_id, vec_id,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY approx_dist, vec_id) AS rn
       |           FROM sc WHERE query_id <> vec_id)
       |         WHERE rn <= $RerankR),
       |nrm AS (SELECT vec_id, ${unitNorm("e")} AS u FROM v),
       |rr AS (SELECT c.query_id, c.neighbor_id, ${dot("q.u", "x.u")} AS cosine
       |       FROM cand c JOIN nrm q ON q.vec_id = c.query_id
       |         JOIN nrm x ON x.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM rr)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  private val RangeTau = 0.3

  /** Oracle of the radius search — shared by sim_range_search (brute
    * force) and sim_index_range (cell-pruned): same unit-norm + strict
    * left-fold dot as every cosine oracle here, threshold instead of
    * rank, ordered by the (query_id, neighbor_id) key.
    */
  private val rangeSearchSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS (SELECT vec_id, ${unitNorm("e")} AS u FROM v)
       |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dot("q.u", "c.u")} AS cosine
       |FROM n q JOIN n c ON q.$QueryPred AND q.vec_id <> c.vec_id
       |WHERE ${dot("q.u", "c.u")} >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  /** Oracle of the MMR diversified top-k: candidate pool (top-8 by
    * cosine, rankTopK tie order), candidate-pair cosines, then the four
    * greedy rounds UNROLLED — each round scores unselected candidates
    * as 0.75·rel − 0.25·max-sim-to-selected (round 1's diversity term
    * is defined 0) and picks the (mmr DESC, neighbor_id) head. λ is
    * dyadic so 1−λ is exact and both engines' score doubles agree.
    */
  private val mmrSql: String = {
    def round(r: Int, sel: String): String =
      s"""m$r AS (SELECT p.query_id, p.a_id, max(p.sim) AS maxsim FROM pairs p
         |  JOIN $sel s ON s.query_id = p.query_id AND s.neighbor_id = p.b_id
         |  GROUP BY p.query_id, p.a_id),
         |s$r AS (SELECT c.query_id, c.neighbor_id, 0.75*c.rel - 0.25*m.maxsim AS mmr
         |  FROM cand c JOIN m$r m ON m.query_id = c.query_id AND m.a_id = c.neighbor_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $sel s
         |                    WHERE s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id)),
         |p$r AS (SELECT query_id, neighbor_id, mmr, $r AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, neighbor_id) AS rn
         |  FROM s$r) WHERE rn = 1)""".stripMargin
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS (SELECT vec_id, ${unitNorm("e")} AS u FROM v),
       |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dot("q.u", "c.u")} AS rel, c.u AS cu
       |       FROM n q JOIN n c ON q.$QueryPred AND q.vec_id <> c.vec_id),
       |cand AS (SELECT query_id, neighbor_id, rel, cu FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
       |  FROM sc) WHERE rn <= 8),
       |pairs AS (SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
       |            ${dot("a.cu", "b.cu")} AS sim
       |          FROM cand a JOIN cand b
       |            ON b.query_id = a.query_id AND b.neighbor_id <> a.neighbor_id),
       |s1 AS (SELECT query_id, neighbor_id, 0.75*rel - 0.25*0.0 AS mmr FROM cand),
       |p1 AS (SELECT query_id, neighbor_id, mmr, 1 AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, neighbor_id) AS rn
       |  FROM s1) WHERE rn = 1),
       |sel2 AS (SELECT query_id, neighbor_id FROM p1),
       |${round(2, "sel2")},
       |sel3 AS (SELECT query_id, neighbor_id FROM sel2
       |         UNION ALL SELECT query_id, neighbor_id FROM p2),
       |${round(3, "sel3")},
       |sel4 AS (SELECT query_id, neighbor_id FROM sel3
       |         UNION ALL SELECT query_id, neighbor_id FROM p3),
       |${round(4, "sel4")}
       |SELECT query_id, rank, neighbor_id, mmr FROM (
       |  SELECT * FROM p1 UNION ALL SELECT * FROM p2
       |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
       |ORDER BY query_id, rank""".stripMargin
  }

  private def topkSql(cellJoin: String, k: Int): String =
    s"""WITH v AS (SELECT vec_id, label, embedding, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS (SELECT vec_id, label, embedding, ${unitNorm("e")} AS u FROM v),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        ${dot("q.u", "c.u")} AS cosine
       |      FROM n q JOIN n c
       |        ON q.$QueryPred AND q.vec_id <> c.vec_id $cellJoin)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM p)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** JL projection layout: 64 input dims → 16 output dims. */
  private val RpInDim = 64
  private val RpOutDim = 16

  /** The projected vector as unrolled DuckDB arithmetic — same signs,
    * same left-to-right add order as `SimilarityOps.randomProject`.
    */
  private def rpListSql(e: String): String =
    (0 until RpOutDim).map { i =>
      (0 until RpInDim).map { j =>
        val pos = SimilarityOps.rpSign(i, j, RpInDim) > 0
        if (j == 0) (if (pos) "" else "-") + s"$e[${j + 1}]"
        else (if (pos) " + " else " - ") + s"$e[${j + 1}]"
      }.mkString
    }.mkString("[", ",\n   ", "]")

  val all: Seq[Q] = Seq(
    Q(
      "sim_topk_exact",
      (s, d) => SimilarityOps.bruteForceTopK(embeddings(s, d), col("vec_id") < 10, TopK),
      Some(topkSql("", TopK)),
    ),
    // JL sign random projection 64→16 — the per-vector projected values
    // hash-pinned: three sampled output dims plus the ordered fold over
    // all 16 (any sign or order drift in ANY matrix entry mismatches).
    Q(
      "sim_random_projection",
      (s, d) => {
        import org.apache.spark.sql.functions._
        SimilarityOps.randomProject(embeddings(s, d), RpInDim, RpOutDim)
          .select(
            col("vec_id"),
            col("embedding").getItem(0).as("y0"),
            col("embedding").getItem(7).as("y7"),
            col("embedding").getItem(15).as("y15"),
            aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x).as("y_sum"),
          )
          .orderBy("vec_id")
      },
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |pv AS (SELECT vec_id, ${rpListSql("e")} AS p FROM v)
              |SELECT vec_id, p[1] AS y0, p[8] AS y7, p[16] AS y15,
              |  list_reduce(list_prepend(0.0, p), (ra, rb) -> ra + rb) AS y_sum
              |FROM pv ORDER BY vec_id""".stripMargin),
    ),
    // Cosine DISTORTION of the projection — the scoreboard that
    // measures what the JL lemma actually claims (pairwise geometry
    // preserved within ±ε), per query over every corpus pair: mean
    // (fixed-point sum — order-independent) and max |projected cosine −
    // full cosine|. Top-k RECALL is deliberately not the metric here:
    // on a near-orthogonal corpus the true top-k are decided by
    // hair-thin cosine margins ≪ ε, so rank agreement is ~0 for ANY
    // distance-preserving sketch while the distortion stays exactly at
    // the JL bound — this table reports the honest number.
    Q(
      "sim_rp_distortion",
      (s, d) => {
        import org.apache.spark.sql.functions._
        def pairs(df: org.apache.spark.sql.DataFrame, cosName: String) = {
          val v = df.select(col("vec_id"), SimilarityOps.unitNorm(col("embedding")).as("u"))
          broadcast(
            v.filter(col("vec_id") < 10)
              .select(col("vec_id").as("query_id"), col("u").as("qu")))
            .join(v, col("query_id") =!= col("vec_id"))
            .select(
              col("query_id"),
              col("vec_id").as("neighbor_id"),
              SimilarityOps.dot(col("qu"), col("u")).as(cosName),
            )
        }
        val e = embeddings(s, d)
        pairs(e, "cf")
          .join(
            pairs(SimilarityOps.randomProject(e, RpInDim, RpOutDim), "cp"),
            Seq("query_id", "neighbor_id"))
          .select(col("query_id"), abs(col("cf") - col("cp")).as("ad"))
          .groupBy(col("query_id"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(floor(col("ad") * lit(1048576.0)).cast("long")).as("fp"),
            max(col("ad")).as("max_abs_diff"),
          )
          .select(
            col("query_id"),
            col("n_pairs"),
            (col("fp").cast("double") / (col("n_pairs").cast("double") * lit(1048576.0)))
              .as("mean_abs_diff"),
            col("max_abs_diff"),
          )
          .orderBy("query_id")
      },
      Some(
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |n AS (SELECT vec_id, ${unitNorm("e")} AS u FROM v),
           |fp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         ${dot("q.u", "c.u")} AS cf
           |       FROM n q JOIN n c ON q.$QueryPred AND q.vec_id <> c.vec_id),
           |pv AS (SELECT vec_id, ${rpListSql("e")} AS e2 FROM v),
           |n2 AS (SELECT vec_id, ${unitNorm("e2")} AS u FROM pv),
           |pp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         ${dot("q.u", "c.u")} AS cp
           |       FROM n2 q JOIN n2 c ON q.$QueryPred AND q.vec_id <> c.vec_id),
           |d AS (SELECT fp.query_id, abs(fp.cf - pp.cp) AS ad
           |      FROM fp JOIN pp ON fp.query_id = pp.query_id
           |                     AND fp.neighbor_id = pp.neighbor_id)
           |SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(CAST(floor(ad * 1048576.0) AS BIGINT)) AS DOUBLE)
           |    / (CAST(count(*) AS DOUBLE) * 1048576.0) AS mean_abs_diff,
           |  max(ad) AS max_abs_diff
           |FROM d GROUP BY query_id ORDER BY query_id""".stripMargin,
      ),
    ),
    // k-NN majority-label classification over the exact top-k: the
    // label-propagation read of the vector store (auto-labeling / label
    // audits). Candidate stage is sim_topk_exact's; the vote argmax is
    // a struct-max aggregate (ties → smallest label), not a window.
    Q(
      "sim_knn_classify",
      (s, d) => SimilarityOps.knnClassify(embeddings(s, d), col("vec_id") < 10, TopK),
      Some(
        s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |n AS (SELECT vec_id, label, ${unitNorm("e")} AS u FROM v),
           |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |        c.label AS n_label, ${dot("q.u", "c.u")} AS cosine
           |      FROM n q JOIN n c ON q.$QueryPred AND q.vec_id <> c.vec_id),
           |tk AS (SELECT query_id, n_label FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |              ORDER BY cosine DESC, neighbor_id) AS rn FROM p)
           |  WHERE rn <= $TopK),
           |vt AS (SELECT query_id, n_label AS label, count(*) AS n_votes
           |       FROM tk GROUP BY query_id, n_label),
           |pr AS (SELECT query_id, label AS predicted_label, n_votes FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |              ORDER BY n_votes DESC, label) AS rn FROM vt)
           |  WHERE rn = 1)
           |SELECT pr.query_id, e.label AS true_label, pr.predicted_label, pr.n_votes,
           |  pr.predicted_label = e.label AS correct
           |FROM pr JOIN embeddings e ON e.vec_id = pr.query_id
           |ORDER BY query_id""".stripMargin,
      ),
    ),
    Q(
      "sim_lsh_bucket",
      (s, d) => SimilarityOps.lshBucketTopK(embeddings(s, d), col("vec_id") < 10, ProbeDims, BucketK),
      Some(
        topkSql(
          s"AND ${signBucket("q.embedding", ProbeDims)} = ${signBucket("c.embedding", ProbeDims)}",
          BucketK,
        ),
      ),
    ),
    Q(
      "sim_ivf_cell",
      (s, d) => SimilarityOps.ivfTopK(embeddings(s, d), col("vec_id") < 10, col("label"), BucketK),
      Some(topkSql("AND q.label = c.label", BucketK)),
    ),
    // Multi-probe LSH: the query probes its own bucket plus every
    // Hamming-1 neighbor bucket (one flipped hyperplane). The oracle
    // states the probe set's semantics directly — candidate iff the two
    // bucket ids differ in at most one bit — which the exploded-probe
    // equi-join realizes exactly.
    Q(
      "sim_multiprobe",
      (s, d) => SimilarityOps.multiProbeTopK(embeddings(s, d), col("vec_id") < 10, ProbeDims, BucketK),
      Some(
        topkSql(
          s"AND bit_count(xor(${signBucket("q.embedding", ProbeDims)}, ${signBucket("c.embedding", ProbeDims)})) <= 1",
          BucketK,
        ),
      ),
    ),
    // Embedding compression: per-vector symmetric int8 quantization.
    // Codes are pinned exactly through the integer checksum; scale and
    // max reconstruction error are deterministic doubles (max is
    // order-independent; the checksum fold is row-local).
    Q(
      "sim_quantize_int8",
      (s, d) => SimilarityOps.quantizeInt8(embeddings(s, d)),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             |m AS (SELECT vec_id, e,
             |        list_max(list_transform(e, qx -> abs(qx))) AS maxabs FROM v),
             |q AS (SELECT vec_id, e, maxabs, maxabs/127.0 AS scale,
             |        CASE WHEN maxabs = 0
             |          THEN list_transform(e, qx -> CAST(0 AS BIGINT))
             |          ELSE list_transform(e, qx -> CAST(floor(qx/(maxabs/127.0) + 0.5) AS BIGINT))
             |        END AS qv
             |      FROM m)
             |SELECT vec_id, scale,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(generate_series(1, len(qv)), qi -> qv[qi]*qi)),
             |       (qa, qb) -> qa + qb) AS BIGINT) AS q_checksum,
             |  CAST(len(list_filter(qv, qx -> abs(qx) = 127)) AS BIGINT) AS n_saturated,
             |  list_max(list_transform(generate_series(1, len(qv)),
             |    qi -> abs(e[qi] - qv[qi]*scale))) AS max_abs_err
             |FROM q ORDER BY vec_id""".stripMargin),
    ),
    // IVF training step: per-cell centroids. Means are the fixed-point
    // scaled-BIGINT aggregate (SimilarityOps.FpScale): order-independent
    // integer sums, so the doubles are deterministic and bit-identical in
    // the oracle with O(1) aggregation state (a plain avg() would depend
    // on partition/accumulation order; an ordered fold would materialize
    // every assignee per centroid).
    Q(
      "sim_centroids",
      (s, d) => SimilarityOps.centroids(embeddings(s, d), col("label")),
      Some(s"""SELECT label, dim,
             |  ${fpMeanAgg("xd")} AS centroid,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT vec_id, label,
             |        unnest(CAST(embedding AS DOUBLE[])) AS xd,
             |        generate_subscripts(embedding, 1) AS dim
             |      FROM embeddings)
             |GROUP BY label, dim ORDER BY label, dim""".stripMargin),
    ),
    // Numerical adjudication of the two mean forms: the raw-double
    // sum()/n mean (order-dependent, what a naive pipeline computes) vs
    // the deterministic fixed-point mean, reported as `within_tol`.
    // Tolerance bound: floor-quantization biases each element's
    // contribution down by < 2^-20, so |raw − fp| ≤ 2^-20 (≈9.5e-7)
    // plus O(n·ulp) summation noise — tol = 2e-6 covers the bound with
    // 2× headroom, so the oracle may pin within_tol as literal true.
    // (tol below 2^-20 would be semantically wrong: quantization alone
    // exceeds it on essentially every row.)
    Q(
      "sim_centroids_merge",
      (s, d) => SimilarityOps.centroidsWithMergeCheck(embeddings(s, d), col("label"), tol = 2e-6),
      Some(s"""SELECT label, dim,
             |  ${fpMeanAgg("xd")} AS centroid,
             |  true AS within_tol,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT vec_id, label,
             |        unnest(CAST(embedding AS DOUBLE[])) AS xd,
             |        generate_subscripts(embedding, 1) AS dim
             |      FROM embeddings)
             |GROUP BY label, dim ORDER BY label, dim""".stripMargin),
    ),
    // Sampled pairwise-distance histogram — the embedding-space shape
    // probe (a collapsed space piles every pair into the top cosine
    // buckets): exact cosines over all pairs of a 50-vector
    // deterministic sample, bucketed at width 0.2. The sample side is
    // broadcast twice; the full corpus never materializes all-pairs —
    // at 100 TB the sample IS the contract, and this histogram is its
    // exact summary.
    Q(
      "sim_dist_hist",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val v = embeddings(s, d)
          .filter(col("vec_id") < 50)
          .select(col("vec_id"), SimilarityOps.unitNorm(col("embedding")).as("u"))
        val cos = SimilarityOps.dot(col("ua"), col("ub"))
        v.select(col("vec_id").as("va"), col("u").as("ua"))
          .join(
            broadcast(v.select(col("vec_id").as("vb"), col("u").as("ub"))),
            col("va") < col("vb"),
          )
          .select(least(floor((cos + 1) * 5).cast("long"), lit(9L)).as("bucket"), cos.as("c"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_pairs"), min(col("c")).as("min_cos"), max(col("c")).as("max_cos"))
          .orderBy("bucket")
      },
      Some(s"""WITH v AS (
             |  SELECT vec_id, ${OracleSnippets.unitNorm("CAST(embedding AS DOUBLE[])")} AS u
             |  FROM embeddings WHERE vec_id < 50),
             |p AS (SELECT ${OracleSnippets.dot("a.u", "b.u")} AS c
             |      FROM v a JOIN v b ON a.vec_id < b.vec_id)
             |SELECT least(CAST(floor((c + 1) * 5) AS BIGINT), 9) AS bucket,
             |  count(*) AS n_pairs, min(c) AS min_cos, max(c) AS max_cos
             |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin),
    ),
    // Per-dimension feature health: fixed-point mean/variance plus
    // exact min/max for every embedding dimension — the drift/collapse
    // dashboard (dead dimension → variance ≈ 0).
    Q(
      "sim_dim_stats",
      (s, d) => SimilarityOps.dimStats(embeddings(s, d)),
      Some(s"""SELECT dim, ${fpMeanAgg("xd")} AS mean,
             |  (${fpMeanAgg("xd*xd")}) - (${fpMeanAgg("xd")}) * (${fpMeanAgg("xd")})
             |    AS variance,
             |  min(xd) AS min_x, max(xd) AS max_x
             |FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS xd,
             |        generate_subscripts(embedding, 1) AS dim
             |      FROM embeddings)
             |GROUP BY dim ORDER BY dim""".stripMargin),
    ),
    // Embedding-distribution drift monitor: per-dimension fixed-point
    // means of two corpus cohorts (vec_id parity — the deterministic
    // stand-in for old batch vs new batch) and the |Δmean| report — the
    // retraining tripwire for every trained artifact downstream (IVF
    // cells, PQ codebooks, LSH planes serve the distribution they were
    // trained on). Constant-size output (one row per dimension).
    Q(
      "sim_embed_drift",
      (s, d) => SimilarityOps.embedDrift(embeddings(s, d), threshold = 0.01),
      Some(s"""WITH x AS (
             |  SELECT vec_id % 2 AS cohort, dim, xd
             |  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS xd,
             |          generate_subscripts(embedding, 1) AS dim
             |        FROM embeddings)),
             |m AS (SELECT dim, cohort, ${fpMeanAgg("xd")} AS mean
             |      FROM x GROUP BY dim, cohort),
             |piv AS (SELECT dim,
             |          max(CASE WHEN cohort = 0 THEN mean END) AS mean_old,
             |          max(CASE WHEN cohort = 1 THEN mean END) AS mean_new
             |        FROM m GROUP BY dim)
             |SELECT dim, mean_old, mean_new,
             |  abs(mean_new - mean_old) AS drift,
             |  abs(mean_new - mean_old) > 0.01 AS flagged
             |FROM piv ORDER BY dim""".stripMargin),
    ),
    // Class-separation report: pairwise cosine between per-label
    // fixed-point centroids (K·(K−1)/2 rows) — collapsed classes show
    // as near-1 cosines before a probe or classifier is trusted.
    Q(
      "sim_centroid_sim",
      (s, d) => SimilarityOps.centroidSimilarity(embeddings(s, d)),
      Some(s"""WITH c AS (SELECT label, dim, ${fpMeanAgg("xd")} AS c
             |      FROM (SELECT label,
             |              unnest(CAST(embedding AS DOUBLE[])) AS xd,
             |              generate_subscripts(embedding, 1) AS dim
             |            FROM embeddings)
             |      GROUP BY label, dim),
             |arr AS (SELECT label, list(c ORDER BY dim) AS ca FROM c GROUP BY label)
             |SELECT pa.label AS label_a, pb.label AS label_b,
             |  ${OracleSnippets.dot("pa.ca", "pb.ca")} /
             |    (sqrt(${OracleSnippets.dot("pa.ca", "pa.ca")}) *
             |     sqrt(${OracleSnippets.dot("pb.ca", "pb.ca")})) AS cosine
             |FROM arr pa JOIN arr pb ON pa.label < pb.label
             |ORDER BY label_a, label_b""".stripMargin),
    ),
    // Linear probe: nearest-class-mean binary classifier (labels 0 vs
    // 1) — fixed-point class means, midpoint-threshold scoring, per
    // class the correct-classification count and fixed-point mean
    // margin. The oracle replays train-then-score end to end with the
    // same ordered-fold dot products.
    Q(
      "sim_linear_probe",
      (s, d) => SimilarityOps.linearProbe(embeddings(s, d), a = 0L, b = 1L),
      Some(s"""WITH e AS (
             |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed
             |  FROM embeddings WHERE label IN (0, 1)),
             |c AS (SELECT label, dim, ${fpMeanAgg("xd")} AS c
             |      FROM (SELECT label, unnest(ed) AS xd,
             |              generate_subscripts(ed, 1) AS dim FROM e)
             |      GROUP BY label, dim),
             |arr AS (SELECT label, list(c ORDER BY dim) AS ca FROM c GROUP BY label),
             |wm AS (SELECT
             |    list_transform(generate_series(1, len(pa.ca)),
             |                   wi -> pa.ca[wi] - pb.ca[wi]) AS w,
             |    list_transform(generate_series(1, len(pa.ca)),
             |                   mi -> (pa.ca[mi] + pb.ca[mi]) / 2.0) AS m
             |  FROM (SELECT ca FROM arr WHERE label = 0) pa,
             |       (SELECT ca FROM arr WHERE label = 1) pb),
             |wb AS (SELECT w, -(${OracleSnippets.dot("w", "m")}) AS bias FROM wm),
             |sc AS (SELECT label, ${OracleSnippets.dot("w", "ed")} + bias AS score
             |       FROM e CROSS JOIN wb)
             |SELECT label, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN (score > 0) = (label = 0) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_correct,
             |  ${fpMeanAgg("score")} AS mean_margin
             |FROM sc GROUP BY label ORDER BY label""".stripMargin),
    ),

    // Product quantization: 4 blocks × 16 dims, 8-entry codebook per
    // block (the seed vectors' sub-vectors), codes packed base-8 into
    // one long + ordered-fold reconstruction error — the PQ compression
    // step of a vector-store build, 64 floats → one code word.
    Q(
      "sim_pq_codes",
      (s, d) => SimilarityOps.pqEncode(embeddings(s, d), blocks = 4, subDim = 16,
        isSeed = col("vec_id") < 8, nSeeds = 8),
      Some(pqCodesSql),
    ),
    // PQ asymmetric-distance search (ADC): corpus represented ONLY by
    // its packed codes; per-query (block, centroid) LUT of squared-L2
    // partial distances; approximate distance = ordered fold of the 4
    // LUT entries the vector's codes select. The read path that makes
    // pq_codes useful — billions of codes scanned without raw vectors.
    Q(
      "sim_pq_adc",
      (s, d) => SimilarityOps.pqAdcTopK(embeddings(s, d), blocks = 4, subDim = 16,
        isSeed = col("vec_id") < 8, nSeeds = 8, isQuery = col("vec_id") < 10, k = 5),
      Some(s"""WITH pc AS (SELECT vec_id, pq_code FROM ($pqCodesSql)),
              |dv AS (SELECT * FROM (VALUES (0, 1), (1, 8), (2, 64), (3, 512)) AS t(blk, divisor)),
              |cc AS (SELECT vec_id, blk, (pq_code // divisor) % 8 AS code FROM pc, dv),
              |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |bs AS (SELECT unnest(generate_series(0, 3)) AS blk),
              |qb AS (SELECT vec_id AS query_id, blk, e[blk*16+1 : blk*16+16] AS qv
              |       FROM v CROSS JOIN bs WHERE vec_id < 10),
              |cb AS (SELECT vec_id AS code, blk, e[blk*16+1 : blk*16+16] AS cv
              |       FROM v CROSS JOIN bs WHERE vec_id < 8),
              |lut AS (SELECT q.query_id, q.blk, c.code, ${l2sq("q.qv", "c.cv")} AS d
              |        FROM qb q JOIN cb c ON q.blk = c.blk),
              |sc AS (SELECT l.query_id, c.vec_id,
              |         list_reduce(list_prepend(0.0, list(l.d ORDER BY l.blk)),
              |                     (ada, adb) -> ada + adb) AS approx_dist
              |       FROM cc c JOIN lut l ON c.blk = l.blk AND c.code = l.code
              |       GROUP BY l.query_id, c.vec_id)
              |SELECT query_id, neighbor_id, approx_dist, rank FROM (
              |  SELECT query_id, vec_id AS neighbor_id, approx_dist,
              |    CAST(row_number() OVER (PARTITION BY query_id
              |           ORDER BY approx_dist, vec_id) AS INT) AS rank
              |  FROM sc WHERE query_id <> vec_id)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    ),
    // PQ codebook TRAINING: 2 per-block Lloyd iterations from the seed
    // sub-vectors, then encode the corpus against the TRAINED codebook —
    // the full composition a vector-store build runs (train → encode).
    // Every trained centroid double is a fixed-point scaled-BIGINT mean,
    // so the oracle unrolls the same two steps and reproduces codes and
    // reconstruction errors bit-for-bit.
    Q(
      "sim_pq_train",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = trainedCb(s, d, blocks = 4, subDim = 16)
        SimilarityOps.pqEncode(emb, blocks = 4, subDim = 16, codebook = cb, nSeeds = 8)
      },
      Some(s"""WITH ${trainedCbCtes(4, 16)},
              |de AS (SELECT s.vec_id, s.blk, c.cid, ${l2sq("s.sv", "c.cv")} AS dist
              |       FROM sv s JOIN cb2 c ON s.blk = c.blk),
              |ae AS (SELECT vec_id, blk, cid, dist FROM (
              |         SELECT *, row_number() OVER (PARTITION BY vec_id, blk
              |                     ORDER BY dist, cid) AS rn FROM de)
              |       WHERE rn = 1)
              |SELECT vec_id,
              |  CAST(sum(cid * power(8, blk)) AS BIGINT) AS pq_code,
              |  list_reduce(list_prepend(0.0, list(dist ORDER BY blk)),
              |              (pqa, pqb) -> pqa + pqb) AS recon_err
              |FROM ae GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    ),
    // ADC search against the TRAINED codebook — the complete vector-store
    // read path (train → encode → LUT → scan codes). Codes and LUT both
    // derive from the same trained frame, exactly what pqAdcTopK's
    // codebook overload guarantees.
    Q(
      "sim_pq_adc_trained",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = trainedCb(s, d, blocks = 4, subDim = 16)
        SimilarityOps.pqAdcTopK(emb, blocks = 4, subDim = 16, codebook = cb,
          nSeeds = 8, isQuery = col("vec_id") < 10, k = 5)
      },
      Some(adcTrainedSql),
    ),
    // Two-stage retrieval — the production serving shape: the trained
    // ADC index nominates R=20 candidates per query from compressed
    // codes alone, then ONLY those rows' raw vectors are fetched
    // (broadcast-hash join; the corpus never shuffles) and re-ranked by
    // exact cosine. Approximation error survives only in WHICH R
    // candidates surfaced, never in their final ordering.
    Q(
      "sim_rerank",
      (s, d) => rerankTrained(s, d),
      Some(rerankSql),
    ),
    // IVF with a TRAINED coarse quantizer: 2 Lloyd iterations over the
    // FULL vectors (blocks=1 = plain k-means), every vector assigned to
    // its nearest trained centroid (broadcast + min-struct argmin, the
    // corpus never shuffles for assignment), then within-cell cosine
    // top-k — the complete IVF build+search pipeline, trained end to end.
    Q(
      "sim_ivf_trained",
      (s, d) => ivfTrainedTopK(s, d),
      Some(ivfTrainedSql),
    ),
    // The PERSISTED vector index (VectorIndexOps): train the coarse
    // quantizer once, store unit-normed vectors bucketed by cell, and
    // answer IVF search entirely from the artifact — queries fetch
    // their stored (u, cell), the corpus side is one cell equi-join
    // against the bucketed table, no parquet re-read, no re-norm
    // (VectorIndexSpec pins the plan). Bit-equal to the on-the-fly
    // trained-IVF path, so it shares ivfTrainedSql.
    Q(
      "sim_index_topk",
      (s, d) =>
        graft.operators.VectorIndexOps.ivfTopK(
          s, fullVectorIndex(s, d), col("vec_id") < 10, BucketK),
      Some(ivfTrainedSql),
    ),
    // kNN classification served from the stored index: candidates from
    // the single-probe IVF read (stored cells, stored unit vectors),
    // labels joined from the corpus table, the same struct-max vote
    // tail as sim_knn_classify — the production "label this vector"
    // serving path, ANN candidates instead of a corpus scan.
    Q(
      "sim_index_knn",
      (s, d) =>
        SimilarityOps.knnClassifyFrom(
          graft.operators.VectorIndexOps.ivfTopK(
            s, fullVectorIndex(s, d), col("vec_id") < 10, BucketK),
          embeddings(s, d).select(col("vec_id"), col("label")),
        ),
      Some(
        s"""WITH $ivfTrainedCandCtes,
           |tk AS (SELECT query_id, neighbor_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |              ORDER BY cosine DESC, neighbor_id) AS rn FROM p)
           |  WHERE rn <= $BucketK),
           |vt AS (SELECT t.query_id, e.label, count(*) AS n_votes
           |       FROM tk t JOIN embeddings e ON e.vec_id = t.neighbor_id
           |       GROUP BY t.query_id, e.label),
           |pr AS (SELECT query_id, label AS predicted_label, n_votes FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |              ORDER BY n_votes DESC, label) AS rn FROM vt)
           |  WHERE rn = 1)
           |SELECT pr.query_id, e.label AS true_label, pr.predicted_label, pr.n_votes,
           |  pr.predicted_label = e.label AS correct
           |FROM pr JOIN embeddings e ON e.vec_id = pr.query_id
           |ORDER BY query_id""".stripMargin,
      ),
    ),
    // Radius (range) search — every neighbor with cosine ≥ τ, not a
    // fixed k: the data-dependent-answer-size probe a near-dup or
    // contamination sweep asks. Two faces, one oracle: the brute-force
    // corpus scan, and the index face that prunes whole cells by the
    // triangle inequality over stored per-cell radius partials before
    // scoring a single vector (the exact cosine filter decides
    // membership either way, over the same unit-norm arithmetic —
    // bit-equal by construction, VectorIndexSpec asserts it).
    Q(
      "sim_range_search",
      (s, d) => SimilarityOps.rangeSearch(embeddings(s, d), col("vec_id") < 10, RangeTau),
      Some(rangeSearchSql),
    ),
    Q(
      "sim_index_range",
      (s, d) =>
        graft.operators.VectorIndexOps.ivfRangeSearch(
          s, fullVectorIndex(s, d), col("vec_id") < 10, RangeTau),
      Some(rangeSearchSql),
    ),
    // MMR diversified top-k — greedy selection balancing relevance
    // against similarity-to-already-selected, the fix for "top-k
    // returns k near-copies". Candidate pool from the bounded-heap
    // top-8, then four driver-coordinated rounds over the bounded
    // candidate frame with pair cosines computed once; the oracle
    // unrolls the rounds as CTE stages.
    Q(
      "sim_mmr",
      (s, d) =>
        SimilarityOps.mmrTopK(
          embeddings(s, d), col("vec_id") < 10, candK = 8, k = 4, lambda = 0.75),
      Some(mmrSql),
    ),
    // Incremental ingest against the FROZEN stored codebook: index
    // built on vec_id % 5 <> 0, the rest appended (assigned by the
    // stored quantizer — never retrained; retraining would move cell
    // boundaries under every stored vector). The oracle trains on the
    // subset and assigns/searches the full corpus.
    Q(
      "sim_index_incremental",
      (s, d) => {
        val pre = Tables.tempIndexDb(s, "vec", s"incr_${Tables.datasetKey(d)}")
        graft.operators.VectorIndexOps.writeIndex(
          embeddings(s, d).filter(col("vec_id") % 5 =!= 0), dim = 64,
          isSeed = col("vec_id") < 8, iters = 2, buckets = 8, prefix = pre,
          codebook = Some(trainedCbMod5(s, d)))
        graft.operators.VectorIndexOps.appendVectors(
          s, pre, embeddings(s, d).filter(col("vec_id") % 5 === 0))
        graft.operators.VectorIndexOps.ivfTopK(s, pre, col("vec_id") < 10, BucketK)
      },
      Some(ivfIndexIncrSql),
    ),
    // Tombstone deletes over the stored artifact: the index is built
    // on the full corpus, the vec_id % 7 = 3 rows are then DELETED
    // (appended to the tombstone table every read face anti-joins out
    // — broadcast, the corpus never shuffles for a delete), and search
    // answers as if those vectors were never there while the frozen
    // codebook and every other vector's stored cell stay untouched.
    Q(
      "sim_index_delete",
      (s, d) => {
        val pre = Tables.tempIndexDb(s, "vec", s"del_${Tables.datasetKey(d)}")
        graft.operators.VectorIndexOps.writeIndex(
          embeddings(s, d), dim = 64, isSeed = col("vec_id") < 8, iters = 2,
          buckets = 8, prefix = pre,
          codebook = Some(trainedCb(s, d, blocks = 1, subDim = 64)))
        graft.operators.VectorIndexOps.deleteVectors(
          s, pre, embeddings(s, d).filter(col("vec_id") % 7 === 3).select(col("vec_id")))
        graft.operators.VectorIndexOps.ivfTopK(s, pre, col("vec_id") < 10, BucketK)
      },
      Some(ivfDeleteSql),
    ),
    // Multi-probe from the stored artifact: probe ranking reads the
    // STORED raw doubles (the `e` column — centroid geometry is not
    // recoverable from unit-normed `u`), scoring reads `u`; same
    // semantics as the on-the-fly trained multi-probe, so it shares
    // that oracle.
    Q(
      "sim_index_multiprobe",
      (s, d) =>
        graft.operators.VectorIndexOps.ivfMultiProbeTopK(
          s, fullVectorIndex(s, d), IvfNProbe, col("vec_id") < 10, BucketK),
      Some(ivfMultiProbeSql),
    ),
    // ADC over STORED codes: the corpus contact is the codes table (one
    // long per vector), queries slice the index's stored raw doubles,
    // the LUT reads the stored frozen PQ codebook. Same scoring tail as
    // the on-the-fly trained-ADC path → shared oracle.
    Q(
      "sim_index_adc",
      (s, d) =>
        graft.operators.VectorIndexOps.adcTopK(
          s, fullPqIndex(s, d), blocks = 4, subDim = 16, nSeeds = 8,
          isQuery = col("vec_id") < 10, k = 5),
      Some(adcTrainedSql),
    ),
    // IVF-PQ composed entirely from artifacts: stored coarse codebook
    // ranks probe cells, stored PQ codebook builds the LUT, and the
    // corpus contact is the cell-bucketed codes of the probed cells
    // only. Shares the on-the-fly IVF-PQ oracle.
    Q(
      "sim_index_ivfpq",
      (s, d) =>
        graft.operators.VectorIndexOps.ivfPqTopK(
          s, fullPqIndex(s, d), blocks = 4, subDim = 16, nSeeds = 8,
          nprobe = IvfNProbe, isQuery = col("vec_id") < 10, k = 5),
      Some(ivfPqSql),
    ),
    // Two-stage retrieval from the artifact: stored codes nominate R
    // candidates, stored unit vectors re-rank them exactly — the full
    // production serving path with zero corpus contact. Shares the
    // on-the-fly rerank oracle.
    Q(
      "sim_index_rerank",
      (s, d) =>
        graft.operators.VectorIndexOps.rerankTopK(
          s, fullPqIndex(s, d), blocks = 4, subDim = 16, nSeeds = 8,
          isQuery = col("vec_id") < 10, r = RerankR, k = TopK),
      Some(rerankSql),
    ),
    // Recall@k of the TRAINED-IVF path against exact brute force — the
    // metric that decides whether 2 Lloyd iterations and 8 cells are
    // enough, closing the train → search → MEASURE loop the other
    // scoreboards (sim_ann_recall, dd_lsh_recall) establish.
    Q(
      "sim_ivf_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val exact = SimilarityOps
          .bruteForceTopK(embeddings(s, d), col("vec_id") < 10, BucketK)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_exact"))
        val approx = ivfTrainedTopK(s, d)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_approx"))
        exact
          .join(approx, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy(col("query_id"))
          .agg(
            count(col("in_exact")).as("n_true"),
            count(col("in_approx")).as("n_approx"),
            count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hits"),
          )
          .select(
            col("query_id"),
            col("n_true"),
            col("n_approx"),
            col("n_hits"),
            (col("n_hits").cast("double") / col("n_true").cast("double")).as("recall_at_k"),
          )
          .orderBy("query_id")
      },
      Some {
        val exactSql = topkSql("", BucketK)
        s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($exactSql)),
           |ap AS (SELECT query_id, neighbor_id FROM ($ivfTrainedSql)),
           |j AS (SELECT coalesce(e.query_id, a.query_id) AS query_id,
           |             e.neighbor_id AS en, a.neighbor_id AS an
           |      FROM ex e FULL OUTER JOIN ap a
           |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
           |SELECT query_id,
           |  CAST(count(en) AS BIGINT) AS n_true,
           |  CAST(count(an) AS BIGINT) AS n_approx,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS n_hits,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS DOUBLE)
           |    / CAST(count(en) AS DOUBLE) AS recall_at_k
           |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
      },
    ),
    // Multi-probe over the TRAINED coarse quantizer: each query searches
    // its nprobe=2 nearest trained cells (bounded top-P aggregate over
    // the broadcast codebook — no shuffle, no window) while the corpus
    // keeps its single cell — the recall knob a production IVF exposes,
    // at ~2× the single-probe read cost instead of the brute-force scan.
    Q(
      "sim_ivf_multiprobe",
      (s, d) => ivfMultiProbeTrained(s, d),
      Some(ivfMultiProbeSql),
    ),
    // Recall@k of the multi-probe path against exact brute force — must
    // dominate sim_ivf_recall's single-probe numbers at the same k
    // (pinned per query by SimilaritySpec): more probes, never less
    // recall.
    Q(
      "sim_ivf_multiprobe_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val exact = SimilarityOps
          .bruteForceTopK(embeddings(s, d), col("vec_id") < 10, BucketK)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_exact"))
        val approx = ivfMultiProbeTrained(s, d)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_approx"))
        exact
          .join(approx, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy(col("query_id"))
          .agg(
            count(col("in_exact")).as("n_true"),
            count(col("in_approx")).as("n_approx"),
            count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hits"),
          )
          .select(
            col("query_id"),
            col("n_true"),
            col("n_approx"),
            col("n_hits"),
            (col("n_hits").cast("double") / col("n_true").cast("double")).as("recall_at_k"),
          )
          .orderBy("query_id")
      },
      Some {
        val exactSql = topkSql("", BucketK)
        s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($exactSql)),
           |ap AS (SELECT query_id, neighbor_id FROM ($ivfMultiProbeSql)),
           |j AS (SELECT coalesce(e.query_id, a.query_id) AS query_id,
           |             e.neighbor_id AS en, a.neighbor_id AS an
           |      FROM ex e FULL OUTER JOIN ap a
           |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
           |SELECT query_id,
           |  CAST(count(en) AS BIGINT) AS n_true,
           |  CAST(count(an) AS BIGINT) AS n_approx,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS n_hits,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS DOUBLE)
           |    / CAST(count(en) AS DOUBLE) AS recall_at_k
           |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
      },
    ),
    // IVF-PQ: the composed billion-scale read path — trained coarse
    // quantizer partitions the corpus, trained PQ codes represent it,
    // and each query ADC-scans only its nprobe=2 probed cells' codes
    // against a broadcast LUT. The non-residual IVF-PQ variant; with
    // nprobe = #cells it degenerates to exactly sim_pq_adc_trained
    // (pinned by SimilaritySpec). The only corpus exchanges are the
    // cell/code equi-joins — never a per-query shuffle.
    Q(
      "sim_ivfpq",
      (s, d) => ivfPqTrained(s, d),
      Some(ivfPqSql),
    ),
    // Recall@k of the IVF-PQ path against exact brute force — the
    // double-approximation (coarse probe set × PQ distance distortion)
    // scoreboard; the number a vector-store owner tunes nprobe and
    // codebook size against.
    Q(
      "sim_ivfpq_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val exact = SimilarityOps
          .bruteForceTopK(embeddings(s, d), col("vec_id") < 10, 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_exact"))
        val approx = ivfPqTrained(s, d)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_approx"))
        exact
          .join(approx, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy(col("query_id"))
          .agg(
            count(col("in_exact")).as("n_true"),
            count(col("in_approx")).as("n_approx"),
            count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hits"),
          )
          .select(
            col("query_id"),
            col("n_true"),
            col("n_approx"),
            col("n_hits"),
            (col("n_hits").cast("double") / col("n_true").cast("double")).as("recall_at_k"),
          )
          .orderBy("query_id")
      },
      Some {
        val exactSql = topkSql("", 5)
        s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($exactSql)),
           |ap AS (SELECT query_id, neighbor_id FROM ($ivfPqSql)),
           |j AS (SELECT coalesce(e.query_id, a.query_id) AS query_id,
           |             e.neighbor_id AS en, a.neighbor_id AS an
           |      FROM ex e FULL OUTER JOIN ap a
           |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
           |SELECT query_id,
           |  CAST(count(en) AS BIGINT) AS n_true,
           |  CAST(count(an) AS BIGINT) AS n_approx,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS n_hits,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS DOUBLE)
           |    / CAST(count(en) AS DOUBLE) AS recall_at_k
           |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
      },
    ),
    // Residual IVF-PQ: the production encoding — PQ trained on and
    // coding each vector's residual against its coarse centroid, with
    // per-(query, probed-cell) LUTs. Same probe/scan shape and byte
    // budget as sim_ivfpq; residual coding wins when the coarse cells
    // capture real cluster structure (residuals concentrate near 0).
    Q(
      "sim_ivfpq_res",
      (s, d) => ivfPqResidual(s, d),
      Some(ivfPqResidualSql),
    ),
    // Recall@k of residual IVF-PQ against exact brute force — read side
    // by side with sim_ivfpq_recall. On the synthetic corpus (near-
    // uniform embeddings, so residuals aren't tighter than raw vectors)
    // residual does NOT dominate raw — which is exactly why the
    // scoreboard exists: it's the instrument a store owner tunes the
    // encoding against, not a foregone conclusion.
    Q(
      "sim_ivfpq_res_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val exact = SimilarityOps
          .bruteForceTopK(embeddings(s, d), col("vec_id") < 10, 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_exact"))
        val approx = ivfPqResidual(s, d)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_approx"))
        exact
          .join(approx, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy(col("query_id"))
          .agg(
            count(col("in_exact")).as("n_true"),
            count(col("in_approx")).as("n_approx"),
            count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hits"),
          )
          .select(
            col("query_id"),
            col("n_true"),
            col("n_approx"),
            col("n_hits"),
            (col("n_hits").cast("double") / col("n_true").cast("double")).as("recall_at_k"),
          )
          .orderBy("query_id")
      },
      Some {
        val exactSql = topkSql("", 5)
        s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($exactSql)),
           |ap AS (SELECT query_id, neighbor_id FROM ($ivfPqResidualSql)),
           |j AS (SELECT coalesce(e.query_id, a.query_id) AS query_id,
           |             e.neighbor_id AS en, a.neighbor_id AS an
           |      FROM ex e FULL OUTER JOIN ap a
           |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
           |SELECT query_id,
           |  CAST(count(en) AS BIGINT) AS n_true,
           |  CAST(count(an) AS BIGINT) AS n_approx,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS n_hits,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS DOUBLE)
           |    / CAST(count(en) AS DOUBLE) AS recall_at_k
           |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
      },
    ),
    // One Lloyd's k-means iteration (the IVF-quantizer training step):
    // vectors assigned to the nearest of 8 seed centroids by squared-L2
    // strict fold (ties → lowest seed id), new centroids as the same
    // fixed-point mean sim_centroids pins. Assignment is a broadcast
    // nested-loop against the 8 seed rows (corpus never shuffles for
    // it); the only shuffle is the (cluster, dim) aggregation.
    Q(
      "sim_kmeans_step",
      (s, d) => SimilarityOps.kmeansStep(embeddings(s, d), col("vec_id") < 8),
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |sd AS (SELECT vec_id AS seed_id, e AS se FROM v WHERE vec_id < 8),
              |dst AS (SELECT v.vec_id, sd.seed_id, v.e,
              |          ${l2sq("v.e", "sd.se")} AS dist
              |        FROM v CROSS JOIN sd),
              |asg AS (SELECT vec_id, seed_id, e FROM (
              |          SELECT *, row_number() OVER (PARTITION BY vec_id
              |                      ORDER BY dist, seed_id) AS rn FROM dst)
              |        WHERE rn = 1),
              |x AS (SELECT vec_id, seed_id AS cluster, unnest(e) AS xd,
              |        generate_subscripts(e, 1) AS dim FROM asg)
              |SELECT cluster, dim,
              |  ${fpMeanAgg("xd")} AS centroid,
              |  CAST(count(*) AS BIGINT) AS n
              |FROM x GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin),
    ),
    // ANN quality scoreboard: per-query recall@k of the sign-LSH bucket
    // search against the exact brute-force top-k — the metric an ANN
    // index owner tracks when tuning probe dims. Both pipelines are
    // deterministic end-to-end, so even the recall ratios are
    // hash-checkable. The full-outer join shape mirrors dd_lsh_recall.
    Q(
      "sim_ann_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val exact = SimilarityOps
          .bruteForceTopK(embeddings(s, d), col("vec_id") < 10, BucketK)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_exact"))
        val approx = SimilarityOps
          .lshBucketTopK(embeddings(s, d), col("vec_id") < 10, ProbeDims, BucketK)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_approx"))
        exact
          .join(approx, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy(col("query_id"))
          .agg(
            count(col("in_exact")).as("n_true"),
            count(col("in_approx")).as("n_approx"),
            count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hits"),
          )
          .select(
            col("query_id"),
            col("n_true"),
            col("n_approx"),
            col("n_hits"),
            (col("n_hits").cast("double") / col("n_true").cast("double")).as("recall_at_k"),
          )
          .orderBy("query_id")
      },
      Some {
        val exactSql = topkSql("", BucketK)
        val approxSql = topkSql(
          s"AND ${signBucket("q.embedding", ProbeDims)} = ${signBucket("c.embedding", ProbeDims)}",
          BucketK,
        )
        s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($exactSql)),
           |ap AS (SELECT query_id, neighbor_id FROM ($approxSql)),
           |j AS (SELECT coalesce(e.query_id, a.query_id) AS query_id,
           |             e.neighbor_id AS en, a.neighbor_id AS an
           |      FROM ex e FULL OUTER JOIN ap a
           |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
           |SELECT query_id,
           |  CAST(count(en) AS BIGINT) AS n_true,
           |  CAST(count(an) AS BIGINT) AS n_approx,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS n_hits,
           |  CAST(count(CASE WHEN en IS NOT NULL AND an IS NOT NULL THEN 1 END) AS DOUBLE)
           |    / CAST(count(en) AS DOUBLE) AS recall_at_k
           |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
      },
    ),
    // Re-rank scoreboard: per query, how many of the exact top-5 the
    // plain ADC@5 read finds vs the re-ranked (ADC@20 → exact) read.
    // gain ≥ 0 ALWAYS: ADC@5 ⊆ the R=20 candidate set, and any exact
    // top-5 member inside the candidates must survive an exact-cosine
    // re-rank to 5 (only other top-5 members can outrank it) — the
    // provable dominance SimilaritySpec pins. What's bought: stage 2
    // converts candidate recall into final recall at the cost of R raw
    // rows per query instead of zero.
    Q(
      "sim_rerank_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val emb = embeddings(s, d)
        val cb = trainedCb(s, d, blocks = 4, subDim = 16)
        val exact = SimilarityOps
          .bruteForceTopK(emb, col("vec_id") < 10, TopK)
          .select(col("query_id"), col("neighbor_id"))
        val adc = SimilarityOps
          .pqAdcTopK(emb, blocks = 4, subDim = 16, codebook = cb,
            nSeeds = 8, isQuery = col("vec_id") < 10, k = TopK)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_adc"))
        val rr = rerankTrained(s, d)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("in_rr"))
        exact
          .join(adc, Seq("query_id", "neighbor_id"), "left")
          .join(rr, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(
            count(lit(1)).as("n_true"),
            count(col("in_adc")).as("hits_adc"),
            count(col("in_rr")).as("hits_rerank"),
          )
          .select(
            col("query_id"),
            col("n_true"),
            col("hits_adc"),
            col("hits_rerank"),
            (col("hits_rerank") - col("hits_adc")).as("gain"),
          )
          .orderBy("query_id")
      },
      Some {
        val exactSql = topkSql("", TopK)
        s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($exactSql)),
           |ad AS (SELECT query_id, neighbor_id FROM ($adcTrainedSql)),
           |rr AS (SELECT query_id, neighbor_id FROM ($rerankSql))
           |SELECT e.query_id,
           |  CAST(count(*) AS BIGINT) AS n_true,
           |  CAST(count(a.neighbor_id) AS BIGINT) AS hits_adc,
           |  CAST(count(r.neighbor_id) AS BIGINT) AS hits_rerank,
           |  CAST(count(r.neighbor_id) - count(a.neighbor_id) AS BIGINT) AS gain
           |FROM ex e
           |  LEFT JOIN ad a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
           |  LEFT JOIN rr r ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
           |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
      },
    ),
  )
}
