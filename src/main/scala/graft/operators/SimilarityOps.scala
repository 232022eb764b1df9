package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), pure Catalyst higher-order functions — no UDFs, so
  * every arithmetic step stays inside whole-stage codegen.
  *
  * Float→double casts are exact and both the dot product and the norm
  * are strict left folds, so scores are bit-reproducible — the DuckDB
  * oracle reproduces identical doubles, making even top-k *order*
  * deterministic across engines (ties broken by neighbor id).
  *
  * Scale design: brute-force top-k is the correctness baseline (and is
  * how the verify stage scores candidates); the scale paths bucket the
  * corpus first — sign-LSH (axis-aligned random hyperplanes) or an IVF
  * coarse partition — so the per-query work is one bucket, not the
  * corpus, and the query set is always the broadcast side of the join.
  */
object SimilarityOps {

  /** Fixed-point scale for centroid means: 2^20. Centroid training
    * (`centroids`, `kmeansStep`, `trainCodebook`) needs deterministic
    * means of doubles, but a raw double `sum()` floats with partition
    * order and an ordered fold over a `collect_list` of every assignee
    * materializes a corpus/K-sized array per centroid — an executor
    * OOM at 100 TB. Scaled-integer accumulation gives both properties
    * at once: each element contributes floor(xd·2^20) to a BIGINT sum
    * (integer addition is associative and commutative, so the plain
    * partial-aggregatable `sum()` is exact and order-independent), and
    * one final division by n·2^20 lands the mean. Every step — IEEE
    * multiply, floor, BIGINT→double conversion, one divide — is
    * bit-identical in DuckDB (`OracleSnippets.fpMeanAgg`). Precision:
    * quantization biases each mean by at most 2^-20 ≈ 9.5e-7 — noise
    * for quantizer training (codebook entries are themselves lossy
    * compression); headroom: |xd| ≤ ~2e3 keeps per-element terms under
    * 2^31, so overflow needs > 2^32 rows on one centroid-dim. Past that
    * headroom the engines diverge in FAILURE MODE, not just value:
    * Spark's non-ANSI LONG sum wraps silently, while DuckDB widens
    * BIGINT sums to HUGEINT and the oracle's outer CAST back to BIGINT
    * throws — a silent wrong answer on one side vs an error on the
    * other. Acceptable at the documented headroom; a deployment
    * expecting > 2^32 rows per (cell, dim) should add a count guard.
    */
  private[graft] val FpScale: Double = 1048576.0

  /** Aggregate expression: fixed-point sum of `xd` (see [[FpScale]]). */
  private def fpSum(xd: Column): Column = sum(floor(xd * lit(FpScale)))

  /** The mean recovered from a fixed-point sum `s` and count `n`. */
  private def fpMean(s: Column, n: Column): Column =
    s.cast("double") / (n.cast("double") * lit(FpScale))

  /** Per-query top-k over scored candidate rows (query_id, neighbor_id,
    * score) via the bounded-heap aggregate
    * [[graft.expressions.TopKPairs]] — NOT a `row_number()` window. The
    * window form shuffles every scored candidate onto the
    * low-cardinality, skewed query key and sorts; the aggregate
    * partial-aggregates, so the exchange carries k rows per
    * (partition, query). Ordering (score, then neighbor_id) is
    * identical to the window it replaced, so oracles are unchanged.
    */
  private[operators] def rankTopK(scored: DataFrame, scoreName: String, ascending: Boolean, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKPairs.topK(col(scoreName), col("neighbor_id"), k, ascending).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(
        col("query_id"),
        col("p.id").as("neighbor_id"),
        col("p.score").as(scoreName),
        (col("pos") + 1).cast("int").as("rank"),
      )
      .orderBy("query_id", "rank")

  /** Strict left-fold dot product of two equal-length double arrays —
    * a codegen'd custom Expression (see [[graft.expressions.ArrayDot]]);
    * semantically the `aggregate(zip_with(...))` fold, ~100× cheaper on
    * the per-pair hot path.
    */
  def dot(a: Column, b: Column): Column = graft.expressions.ArrayDot(a, b)

  /** Cast to double and scale to unit L2 norm — cosine then reduces to a
    * plain dot product (one division per element up front, not per pair).
    * Codegen'd custom Expression ([[graft.expressions.UnitNorm]]): the
    * equivalent `transform(d, x => x / sqrt(aggregate(...)))` HOF form
    * interprets nested lambdas and re-evaluates the norm subtree per
    * element — O(dim²) interpreted work per row, the dominant cost of
    * the whole sim_* family before the switch.
    */
  def unitNorm(vec: Column): Column = graft.expressions.UnitNorm(vec)

  /** Brute-force cosine top-k: query rows (selected by `isQuery`) joined
    * against the whole corpus. The query side is small by construction —
    * Spark broadcasts it; the corpus is never shuffled.
    */
  def bruteForceTopK(embeddings: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"), unitNorm(col("embedding")).as("u"))
    val queries = broadcast(
      v.filter(isQuery).select(col("vec_id").as("query_id"), col("u").as("qu")),
    )
    val scored = queries
      .join(v, col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        dot(col("qu"), col("u")).as("cosine"),
      )
    rankTopK(scored, "cosine", ascending = false, k)
  }

  /** k-NN majority-label classification — the label-propagation use of
    * a vector store (auto-labeling, weak supervision, label-noise
    * audits): each query vector takes the majority label of its k
    * nearest neighbors by exact cosine (ties → the smallest label, a
    * total order). Composes [[bruteForceTopK]] — so any ANN face with
    * the same output shape can be swapped in for the candidate stage —
    * with one broadcast-candidate label join and a per-query argmax.
    *
    * Plan shape: the (queries × k)-row candidate set broadcasts into a
    * single corpus scan for the label join (the corpus is never
    * shuffled), and the argmax is `max(struct(votes, −label))` — a
    * plain partial-aggregatable max, no window. Output:
    * (query_id, true_label, predicted_label, n_votes, correct).
    */
  def knnClassify(embeddings: DataFrame, isQuery: Column, k: Int): DataFrame =
    knnClassifyFrom(
      bruteForceTopK(embeddings, isQuery, k),
      embeddings.select(col("vec_id"), col("label")),
    )

  /** The vote/argmax tail of [[knnClassify]] over an ARBITRARY
    * candidate stage — any face producing (query_id, neighbor_id) rows
    * (brute force, IVF, the persisted index) plugs in, so the
    * classification semantics stay identical while the candidate
    * generation scales down from exact to ANN.
    */
  def knnClassifyFrom(candidates: DataFrame, labels: DataFrame): DataFrame = {
    val nn = candidates.select(col("query_id"), col("neighbor_id"))
    val votes = labels
      .join(broadcast(nn), col("vec_id") === col("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val preds = votes
      .groupBy(col("query_id"))
      .agg(max(struct(col("n_votes"), (-col("label")).as("neg_label"))).as("w"))
      .select(
        col("query_id"),
        (-col("w.neg_label")).cast("int").as("predicted_label"),
        col("w.n_votes").as("n_votes"),
      )
    labels
      .select(col("vec_id"), col("label").as("true_label"))
      .join(broadcast(preds), col("vec_id") === col("query_id"))
      .select(
        col("query_id"), col("true_label"), col("predicted_label"), col("n_votes"),
        (col("predicted_label") === col("true_label")).as("correct"),
      )
      .orderBy("query_id")
  }

  /** Radius (range) search — ALL neighbors with cosine ≥ `minCosine`,
    * not a fixed k: the "everything semantically close to this
    * document" probe a dedup or contamination sweep asks, where the
    * answer size is data-dependent. Brute-force baseline face: query
    * side broadcast, every (query, corpus) pair scored, the threshold
    * filter applied on the exact cosine. Output ordered by
    * (query_id, neighbor_id) — deterministic without a rank column.
    * The scale path is [[VectorIndexOps.ivfRangeSearch]], which prunes
    * whole cells by the triangle inequality before any vector is
    * scored; its exact filter is THIS predicate over the same stored
    * unit vectors, so the two faces are bit-equal and share an oracle.
    */
  def rangeSearch(embeddings: DataFrame, isQuery: Column, minCosine: Double): DataFrame = {
    val v = embeddings.select(col("vec_id"), unitNorm(col("embedding")).as("u"))
    val queries = broadcast(
      v.filter(isQuery).select(col("vec_id").as("query_id"), col("u").as("qu")),
    )
    queries
      .join(v, col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        dot(col("qu"), col("u")).as("cosine"),
      )
      .filter(col("cosine") >= minCosine)
      .orderBy("query_id", "neighbor_id")
  }

  /** MMR (Maximal Marginal Relevance) diversified top-k — the diverse
    * retrieval a curation pipeline uses where plain top-k returns k
    * near-copies of the same document. Two stages:
    *
    *   1. CANDIDATES: top-`candK` by cosine per query (bounded-heap,
    *      the only corpus contact — swap in an index-served nominator
    *      at scale);
    *   2. GREEDY MMR over the bounded Q×candK candidate frame: `k`
    *      driver-coordinated rounds, each scoring every unselected
    *      candidate as λ·rel − (1−λ)·max_{s∈selected} cos(c, s) and
    *      taking the per-query argmax (ties → lower neighbor_id, the
    *      rankTopK order). Round 1 has no selected set; the diversity
    *      term is defined 0 there.
    *
    * Candidate–candidate cosines are computed ONCE into a
    * `localCheckpoint`ed pair frame (Q·candK² rows, bounded) and each
    * round reuses it — rounds cost one semi/anti join + one bounded
    * aggregate, never a re-scan. λ must be dyadic (0.75 here) so
    * 1−λ is exact and both engines compute bit-identical scores.
    * Output: (query_id, rank, neighbor_id, mmr) — rank is selection
    * order, the whole point of the operator.
    */
  def mmrTopK(
      embeddings: DataFrame,
      isQuery: Column,
      candK: Int,
      k: Int,
      lambda: Double,
  ): DataFrame = {
    require(k <= candK, "cannot select more than the candidate pool")
    val v = embeddings.select(col("vec_id"), unitNorm(col("embedding")).as("u"))
    val queries = broadcast(
      v.filter(isQuery).select(col("vec_id").as("query_id"), col("u").as("qu")),
    )
    val scored = queries
      .join(v, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), dot(col("qu"), col("u")).as("rel"))
    val cand = rankTopK(scored, "rel", ascending = false, candK)
      .select(col("query_id"), col("neighbor_id"), col("rel"))
      .localCheckpoint()
    val candU = cand.join(
      v.select(col("vec_id").as("neighbor_id"), col("u")), "neighbor_id")
    val pairSims = candU.select(col("query_id"), col("neighbor_id").as("a_id"), col("u").as("au"))
      .join(candU.select(col("query_id"), col("neighbor_id").as("b_id"), col("u").as("bu")), "query_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("query_id"), col("a_id"), col("b_id"), dot(col("au"), col("bu")).as("sim"))
    val mu = 1.0 - lambda
    // The greedy selection runs PER QUERY over its own bounded state
    // (candK candidates + candK² pair sims), not as k driver-paced
    // GLOBAL rounds of anti-join/join/top-1/checkpoint: each query's
    // candidates and pair sims group into one row, and a k-step
    // `aggregate` fold picks the argmax of λ·rel − μ·max(sim to
    // selected) per step. Arithmetic is the identical expression per
    // candidate; the argmax is array_max over (mmr, −neighbor_id)
    // structs — catalyst's double ordering, same tie-break (score desc,
    // id asc) as the TopKPairs top-1 it replaces. Scale story: one
    // grouped pass over queries instead of k global join rounds whose
    // every round shuffles the full candidate set.
    val selSchema = "ARRAY<STRUCT<nid: BIGINT, mmr: DOUBLE>>"
    val packed = cand
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("rel"))).as("cands"))
      .join(
        pairSims
          .groupBy(col("query_id"))
          .agg(collect_list(struct(col("a_id"), col("b_id"), col("sim"))).as("sims")),
        Seq("query_id"),
        "left",
      )
      .select(
        col("query_id"),
        col("cands"),
        coalesce(col("sims"), expr("CAST(array() AS ARRAY<STRUCT<a_id: BIGINT, b_id: BIGINT, sim: DOUBLE>>)"))
          .as("sims"),
      )
    val sel = aggregate(
      sequence(lit(1), lit(k)),
      expr(s"CAST(array() AS $selSchema)"),
      (acc, _) => {
        val selIds = transform(acc, s => s.getField("nid"))
        val remaining = filter(
          col("cands"),
          c => !array_contains(selIds, c.getField("neighbor_id")))
        val scored = transform(
          remaining,
          c => {
            val ms = coalesce(
              array_max(
                transform(
                  filter(
                    col("sims"),
                    s => s.getField("a_id") === c.getField("neighbor_id") &&
                      array_contains(selIds, s.getField("b_id")),
                  ),
                  s => s.getField("sim"),
                )
              ),
              lit(0.0),
            )
            struct(
              (lit(lambda) * c.getField("rel") - lit(mu) * ms).as("mmr"),
              (-c.getField("neighbor_id")).as("negid"),
            )
          },
        )
        val best = array_max(scored)
        when(best.isNull, acc).otherwise(
          concat(
            acc,
            array(struct(
              (-best.getField("negid")).as("nid"),
              best.getField("mmr").as("mmr")))))
      },
    )
    packed
      .select(col("query_id"), posexplode(sel).as(Seq("pos", "p")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("p.nid").as("neighbor_id"),
        col("p.mmr").as("mmr"),
      )
      .orderBy("query_id", "rank")
  }

  /** Sign-LSH bucket id: one bit per probe dimension (axis-aligned
    * hyperplane at 0), folded MSB→LSB. Deterministic and portable — the
    * oracle derives identical buckets.
    */
  def signBucket(vec: Column, probeDims: Seq[Int]): Column =
    probeDims.foldLeft(lit(0L)) { (acc, d) =>
      acc * 2 + when(element_at(vec, d + 1) > 0f, 1L).otherwise(0L)
    }

  /** LSH-bucketed ANN: search only the query's sign bucket. The join is
    * an equi-join on the bucket id — at 100 TB this shuffles each corpus
    * row once into its bucket, instead of scoring the full corpus per
    * query. Recall < 1 by design; the exact baseline is the oracle for
    * effectiveness, this operator's oracle mirrors the bucketing itself.
    */
  def lshBucketTopK(embeddings: DataFrame, isQuery: Column, probeDims: Seq[Int], k: Int): DataFrame = {
    val v = embeddings.select(
      col("vec_id"),
      unitNorm(col("embedding")).as("u"),
      signBucket(col("embedding"), probeDims).as("bucket"),
    )
    val queries = broadcast(
      v.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("u").as("qu"), col("bucket")),
    )
    val scored = queries
      .join(v, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        dot(col("qu"), col("u")).as("cosine"),
      )
    rankTopK(scored, "cosine", ascending = false, k)
  }

  /** IVF training step: per-cell centroid of the (double-cast) vectors,
    * long-form output (cell, dim, centroid, n). The mean is the
    * fixed-point (sum, count) aggregate of [[FpScale]]: deterministic
    * doubles (a plain avg() would float with partition order) from a
    * plain map-side-combinable `sum()` — O(1) state per group, no
    * per-centroid array. One shuffle on (cell, dim).
    */
  def centroids(embeddings: DataFrame, cell: Column): DataFrame =
    embeddings
      .select(
        col("vec_id"),
        cell.as("label"),
        posexplode(transform(col("embedding"), x => x.cast("double"))).as(Seq("pos", "xd")),
      )
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"), col("xd"))
      .groupBy(col("label"), col("dim"))
      .agg(fpSum(col("xd")).as("s"), count(lit(1)).as("n"))
      .select(
        col("label"),
        col("dim"),
        fpMean(col("s"), col("n")).as("centroid"),
        col("n"),
      )
      .orderBy("label", "dim")

  /** Per-dimension feature-health report over the embedding corpus:
    * mean, variance, min, max for every dimension — the drift/collapse
    * dashboard (a dead dimension shows variance ≈ 0; a scale bug shows
    * in min/max). Mean and mean-of-squares are the fixed-point
    * mergeable aggregates (deterministic under partitioning), variance
    * the closed form m₂ − m², min/max exact — every double
    * bit-reproducible by the oracle. One (dim) shuffle of O(1)
    * partials; output rows = dimensionality.
    */
  def dimStats(embeddings: DataFrame): DataFrame = {
    val m = fpMean(col("s"), col("n"))
    embeddings
      .select(posexplode(transform(col("embedding"), x => x.cast("double"))).as(Seq("pos", "xd")))
      .select((col("pos") + 1).as("dim"), col("xd"))
      .groupBy(col("dim"))
      .agg(
        fpSum(col("xd")).as("s"),
        fpSum(col("xd") * col("xd")).as("s2"),
        count(lit(1)).as("n"),
        min(col("xd")).as("min_x"),
        max(col("xd")).as("max_x"),
      )
      .select(
        col("dim"),
        m.as("mean"),
        (fpMean(col("s2"), col("n")) - m * m).as("variance"),
        col("min_x"),
        col("max_x"),
      )
      .orderBy("dim")
  }

  /** Embedding-distribution DRIFT monitor — the check an embedding
    * pipeline runs when the encoder, preprocessing, or upstream corpus
    * changes: split the corpus into two cohorts (here the deterministic
    * vec_id parity — in production, old batch vs new batch) and compare
    * per-dimension means. A drifted dimension means downstream indexes
    * (IVF cells, PQ codebooks, LSH planes) were trained on a different
    * distribution than they now serve and need retraining. Means use
    * the fixed-point discipline ([[FpScale]]) so both engines aggregate
    * exact integers; the drift is one subtraction of two deterministic
    * doubles. One bounded explode (dims per row) + one (dim, cohort)
    * aggregation — dims are a constant, so the report never grows with
    * the corpus.
    */
  def embedDrift(embeddings: DataFrame, threshold: Double): DataFrame = {
    val x = embeddings
      .select(
        pmod(col("vec_id"), lit(2L)).as("cohort"),
        posexplode(transform(col("embedding"), v => v.cast("double"))).as(Seq("pos", "xd")),
      )
      .select(col("cohort"), (col("pos") + 1).as("dim"), col("xd"))
    val m = x
      .groupBy(col("dim"), col("cohort"))
      .agg(fpSum(col("xd")).as("s"), count(lit(1)).as("n"))
      .select(col("dim"), col("cohort"), fpMean(col("s"), col("n")).as("mean"))
    val drift = abs(col("mean_new") - col("mean_old"))
    m.groupBy(col("dim"))
      .agg(
        max(when(col("cohort") === 0, col("mean"))).as("mean_old"),
        max(when(col("cohort") === 1, col("mean"))).as("mean_new"),
      )
      .select(
        col("dim"),
        col("mean_old"),
        col("mean_new"),
        drift.as("drift"),
        (drift > threshold).as("flagged"),
      )
      .orderBy("dim")
  }

  /** Class-separation report: pairwise cosine between every two
    * labels' fixed-point centroids — the embedding-space health view a
    * pipeline owner reads before trusting labels or probes (collapsed
    * classes show as near-1 cosines). The centroid aggregate is the
    * only corpus contact; the K-row centroid frame then self-joins
    * under a broadcast, so the output is K·(K−1)/2 rows of
    * deterministic ordered-fold arithmetic (dot, sqrt, one division —
    * all correctly-rounded IEEE ops the oracle replays exactly).
    */
  def centroidSimilarity(embeddings: DataFrame): DataFrame = {
    val arrs = centroids(embeddings, col("label"))
      .groupBy(col("label"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("centroid")))),
          s => s.getField("centroid"),
        ).as("c"),
      )
    val a = arrs.select(col("label").as("label_a"), col("c").as("ca"))
    val b = arrs.select(col("label").as("label_b"), col("c").as("cb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(
        col("label_a"),
        col("label_b"),
        (dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb"))))).as("cosine"),
      )
      .orderBy("label_a", "label_b")
  }

  /** Linear-probe (nearest-class-mean) binary classifier over labeled
    * embeddings — the cheapest supervised read an embedding store
    * serves, and the standard representation-quality probe: for labels
    * `a` vs `b`, w = µ_a − µ_b with the decision threshold at the
    * class-midpoint hyperplane (score = w·x − w·(µ_a+µ_b)/2; score > 0
    * → class a, ties → b). Reports per-class counts, correct
    * classifications, and the fixed-point mean margin.
    *
    * Every emitted double is bit-reproducible: class means are the
    * fixed-point mergeable mean (deterministic under partitioning),
    * w/midpoint/score are ordered-fold array arithmetic over those
    * means, and the mean margin is itself fixed-point — so the oracle
    * replays the full train-then-score pipeline exactly.
    *
    * Shape: one (label, dim) centroid shuffle over the two classes'
    * rows, then the 1-row (w, bias) frame broadcasts into a single
    * scoring scan + per-label aggregate. The model never touches the
    * driver and scoring contacts the corpus once.
    */
  def linearProbe(embeddings: DataFrame, a: Long, b: Long): DataFrame = {
    val sub = embeddings.filter(col("label").isin(a, b))
    val arrs = centroids(sub, col("label"))
      .groupBy(col("label"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("centroid")))),
          s => s.getField("centroid"),
        ).as("c"),
      )
    val model = arrs
      .agg(
        min(when(col("label") === a, col("c"))).as("ca"),
        min(when(col("label") === b, col("c"))).as("cb"),
      )
      .select(
        zip_with(col("ca"), col("cb"), (x, y) => x - y).as("w"),
        zip_with(col("ca"), col("cb"), (x, y) => (x + y) / 2.0).as("m"),
      )
      .select(col("w"), (-dot(col("w"), col("m"))).as("bias"))
    sub
      .select(
        col("label"),
        transform(col("embedding"), x => x.cast("double")).as("ed"),
      )
      .crossJoin(broadcast(model))
      .select(col("label"), (dot(col("w"), col("ed")) + col("bias")).as("score"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        sum(when((col("score") > 0) === (col("label") === a), 1L).otherwise(0L))
          .as("n_correct"),
        fpSum(col("score")).as("s"),
      )
      .select(
        col("label"),
        col("n"),
        col("n_correct"),
        fpMean(col("s"), col("n")).as("mean_margin"),
      )
      .orderBy("label")
  }

  /** [[centroids]] with a numerical-adjudication column: alongside the
    * exact fixed-point mean, compute the raw-double `sum()/n` mean (the
    * naive mergeable form, whose exact value floats with partition
    * order) and report `within_tol` = |raw − fixed-point| ≤ tol. The
    * oracle pins the fixed-point value plus literal true, so the row
    * stays hash-checkable while documenting that the order-dependent
    * raw mean lands within tolerance of the deterministic one — the
    * check a pipeline owner wants before trusting either form.
    */
  def centroidsWithMergeCheck(embeddings: DataFrame, cell: Column, tol: Double): DataFrame =
    embeddings
      .select(
        col("vec_id"),
        cell.as("label"),
        posexplode(transform(col("embedding"), x => x.cast("double"))).as(Seq("pos", "xd")),
      )
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"), col("xd"))
      .groupBy(col("label"), col("dim"))
      .agg(
        fpSum(col("xd")).as("s"),
        sum(col("xd")).as("sum_raw"),
        count(lit(1)).as("n"),
      )
      .select(
        col("label"),
        col("dim"),
        fpMean(col("s"), col("n")).as("centroid"),
        (abs(col("sum_raw") / col("n") - fpMean(col("s"), col("n"))) <= lit(tol)).as("within_tol"),
        col("n"),
      )
      .orderBy("label", "dim")

  /** Multi-probe sign-LSH ANN: search the query's own bucket PLUS every
    * bucket at Hamming distance 1 (one flipped hyperplane sign) — the
    * standard recall repair for bucketed LSH without adding tables. The
    * probe set is built query-side (B+1 static bucket ids, exploded), so
    * the corpus is still shuffled ONCE on its bucket id and each probe is
    * an equi-join lookup; at 100 TB the cost is (B+1)× the single-probe
    * query-side fan-out, corpus-side nothing changes. Probes are distinct
    * buckets and a corpus row has exactly one bucket, so no candidate
    * pair is produced twice (no dedup shuffle needed).
    */
  def multiProbeTopK(
      embeddings: DataFrame,
      isQuery: Column,
      probeDims: Seq[Int],
      k: Int,
  ): DataFrame = {
    val v = embeddings.select(
      col("vec_id"),
      unitNorm(col("embedding")).as("u"),
      signBucket(col("embedding"), probeDims).as("bucket"),
    )
    val probeArr = array(
      col("bucket") +: probeDims.indices.map(j =>
        col("bucket").bitwiseXOR(lit(1L << (probeDims.size - 1 - j))),
      ): _*,
    )
    val queries = broadcast(
      v.filter(isQuery)
        .select(
          col("vec_id").as("query_id"),
          col("u").as("qu"),
          explode(probeArr).as("bucket"),
        ),
    )
    val scored = queries
      .join(v, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        dot(col("qu"), col("u")).as("cosine"),
      )
    rankTopK(scored, "cosine", ascending = false, k)
  }

  /** Deterministic ±1 sign of the (i,j) entry of the JL projection
    * matrix — the portable multiplicative hash family (the
    * nearDupAwareSplit discipline), so both engines state the whole
    * matrix closed-form from (i, j) alone.
    */
  private[graft] def rpSign(i: Int, j: Int, inDim: Int): Int =
    if ((i.toLong * inDim + j + 1L) * 2654435761L % 2147483647L % 2L == 0L) 1 else -1

  /** Johnson–Lindenstrauss SIGN random projection inDim → outDim:
    * y_i = Σ_j s_ij·x_j with s_ij ∈ {−1, +1} from [[rpSign]] — the
    * dimensionality-reduction step a vector pipeline runs before
    * indexing or transport (outDim/inDim of the storage and per-pair
    * dot cost; inner products preserved within 1±ε by the JL lemma,
    * measured by the recall scoreboard registered next to it). The
    * matrix is CONSTANT and known at plan time, so the projection
    * unrolls into straight-line codegen'd adds per row — no per-element
    * lambda interpretation (the UnitNorm lesson: nested HOFs interpret
    * O(outDim·inDim) lambdas per row). The left-to-right add order is
    * mirrored verbatim by the oracle, so projected doubles are
    * bit-identical across engines. Output keeps the (vec_id, label,
    * embedding) shape — every downstream sim operator composes
    * unchanged on the projected frame.
    */
  def randomProject(embeddings: DataFrame, inDim: Int, outDim: Int): DataFrame = {
    val proj = array((0 until outDim).map { i =>
      (0 until inDim).map { j =>
        val x = col("embedding").getItem(j).cast("double")
        if (rpSign(i, j, inDim) > 0) x else -x
      }.reduceLeft(_ + _)
    }: _*)
    embeddings.select(col("vec_id"), col("label"), proj.as("embedding"))
  }

  /** Per-vector symmetric int8 quantization — the embedding-compression
    * step of a vector-store build (4× smaller than float32, 8× smaller
    * than the double working form). scale = max|x|/127; code_i =
    * floor(x_i/scale + 0.5) ∈ [-127, 127] (an IEEE quotient of x ≤ max|x|
    * by max|x|/127 cannot reach 127.5, so no clamp is needed); zero
    * vectors quantize to all-zero codes with scale 0. Row-local column
    * algebra over single-level lambdas (scale is a materialized column,
    * never re-evaluated inside a lambda), so it scales as a scan.
    *
    * Output is scalar per vector — the code checksum Σ code_i·i (exact
    * integer), saturation count, and max reconstruction error — so the
    * driver hash stays array-free while pinning every code byte.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    val withScale = embeddings
      .select(col("vec_id"), e.as("e"))
      .withColumn("maxabs", array_max(transform(col("e"), x => abs(x))))
      .withColumn("scale", col("maxabs") / lit(127.0))
    val codes = when(col("maxabs") === 0.0, transform(col("e"), _ => lit(0L)))
      .otherwise(transform(col("e"), x => floor(x / col("scale") + lit(0.5))))
    withScale
      .withColumn("q", codes)
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(
          zip_with(col("q"), sequence(lit(1L), size(col("q")).cast("long")), (q, i) => q * i),
          lit(0L),
          (acc, x) => acc + x,
        ).as("q_checksum"),
        size(filter(col("q"), q => abs(q) === 127L)).cast("long").as("n_saturated"),
        array_max(zip_with(col("e"), col("q"), (x, q) => abs(x - q * col("scale"))))
          .as("max_abs_err"),
      )
      .orderBy("vec_id")
  }

  /** One Lloyd's k-means iteration — the training step behind the IVF
    * coarse quantizer ([[ivfTopK]]'s cell assignment): seed centroids
    * (rows selected by `isSeed`) are broadcast, every vector is assigned
    * to its nearest seed by squared L2 (strict left fold, ties broken by
    * seed id — deterministic), and new per-cluster centroids come out as
    * the same fixed-point mean [[centroids]] uses, long-form
    * (cluster, dim, centroid, n).
    *
    * Scale shape: assignment is a broadcast nested-loop against K seed
    * rows (the corpus is never shuffled for it) followed by one
    * (cluster, dim) aggregation shuffle whose output is K×dim rows —
    * exactly how a cluster-scale k-means iterates. Repeated application
    * (reseeding from the previous output) is full Lloyd's; one step is
    * registered so the oracle can state it closed-form.
    */
  def kmeansStep(embeddings: DataFrame, isSeed: Column): DataFrame = {
    val v = embeddings.select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"),
    )
    val seeds = broadcast(
      v.filter(isSeed).select(col("vec_id").as("seed_id"), col("e").as("se")),
    )
    val dist = aggregate(
      zip_with(col("e"), col("se"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    // Argmin as a partial-aggregatable min(struct(dist, seed_id)) — the
    // map side combines K candidate rows per vector down to ONE before
    // the shuffle, where a row_number window would shuffle+sort all K
    // (at a production K=256 that is 256× the exchanged data). Struct
    // ordering is lexicographic, so ties break to the lowest seed_id —
    // identical semantics to the window form. `first(e)` is
    // deterministic: e is functionally determined by the group key.
    val assigned = v
      .crossJoin(seeds)
      .select(col("vec_id"), col("seed_id"), col("e"), dist.as("dist"))
      .groupBy(col("vec_id"))
      .agg(
        min(struct(col("dist"), col("seed_id"))).as("m"),
        first(col("e")).as("e"),
      )
      .select(col("vec_id"), col("m.seed_id").as("cluster"), col("e"))
    assigned
      .select(
        col("vec_id"),
        col("cluster"),
        posexplode(col("e")).as(Seq("pos", "xd")),
      )
      .select(col("vec_id"), col("cluster"), (col("pos") + 1).as("dim"), col("xd"))
      .groupBy(col("cluster"), col("dim"))
      .agg(fpSum(col("xd")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster"), col("dim"), fpMean(col("s"), col("n")).as("centroid"), col("n"))
      .orderBy("cluster", "dim")
  }

  /** Product-quantization encoding — the vector-store compression step
    * beyond scalar int8 ([[quantizeInt8]]): the embedding splits into
    * `blocks` contiguous sub-vectors of `subDim` dims; each sub-vector
    * is replaced by the id of its nearest codebook entry (squared-L2
    * strict fold, ties → lower id). The codebook per block is the seed
    * rows' sub-vectors (a production build trains it with per-block
    * [[kmeansStep]] iterations; the assignment machinery is identical).
    *
    * Output is scalar per vector — codes packed base-`nSeeds` into one
    * long (exact integer arithmetic) plus the total squared
    * reconstruction error as an ordered fold over block index — so the
    * driver hash pins every code without array columns.
    *
    * Scale shape: the corpus explodes ×blocks (row-local), the codebook
    * (seeds × blocks rows) broadcasts, argmin is a partial-aggregatable
    * min(struct(dist, cid)) keyed by (vec_id, block) — map-side combine
    * exchanges one row per key, not nSeeds candidates, and the output is
    * one row per vector. Nothing pairwise.
    */
  def pqEncode(embeddings: DataFrame, blocks: Int, subDim: Int, isSeed: Column, nSeeds: Int): DataFrame =
    pqEncodeUnordered(embeddings, blocks, subDim, isSeed, nSeeds).orderBy("vec_id")

  /** [[pqEncode]] with an explicit TRAINED codebook frame
    * `(blk, cid, cv: array<double>)` — what [[trainCodebook]] emits —
    * instead of the seed-row codebook. Presentation-sorted.
    */
  def pqEncode(embeddings: DataFrame, blocks: Int, subDim: Int, codebook: DataFrame, nSeeds: Int): DataFrame =
    pqEncodeWith(embeddings, blocks, subDim, codebook, nSeeds).orderBy("vec_id")

  /** The per-block sub-vector frame (vec_id, blk, sv) — the working form
    * every PQ stage consumes.
    */
  private def subVectors(embeddings: DataFrame, blocks: Int, subDim: Int): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    val blocksArr = array((0 until blocks).map(b => slice(e, b * subDim + 1, subDim)): _*)
    embeddings.select(col("vec_id"), posexplode(blocksArr).as(Seq("blk", "sv")))
  }

  /** The seed-row codebook: each seed vector's sub-vector per block,
    * as the codebook frame shape (blk, cid, cv) shared by the trained
    * path.
    */
  private[operators] def seedCodebook(
      embeddings: DataFrame, blocks: Int, subDim: Int, isSeed: Column): DataFrame =
    subVectors(embeddings.filter(isSeed), blocks, subDim)
      .select(col("blk"), col("vec_id").as("cid"), col("sv").as("cv"))

  /** PQ codebook TRAINING — per-block Lloyd iterations over the
    * sub-vector space, the composition [[pqEncode]]'s docstring promises:
    * start from the seed rows' sub-vectors, then `iters` times (assign
    * every sub-vector to its nearest entry, recompute each entry as the
    * mean of its assignees). All per-block k-means, exactly
    * [[kmeansStep]]'s machinery applied blockwise.
    *
    * Determinism contract: assignment argmin is min(struct(dist, cid))
    * (ties → lowest cid) and the mean is the fixed-point per-dimension
    * aggregate [[centroids]] uses ([[FpScale]]), so every trained
    * centroid double is bit-reproducible in the SQL oracle (which
    * unrolls the same fixed number of steps). Entries that attract no
    * assignees in a round drop out (standard dead-centroid behavior) —
    * both engines agree.
    *
    * Scale shape per iteration: the codebook is BOUNDED driver metadata
    * (≤ nSeeds×blocks rows — the same bounded-scalar-read class as the
    * clustering convergence checks and the BPE argmax), so each
    * iteration collects it and inlines the next assignment as a
    * per-block literal argmin expression: no broadcast build, no join —
    * one (blk, cid, dim) mean shuffle per iteration is all that remains,
    * and the corpus is never shuffled on anything wider than its own
    * keys. The former form nested `iters` broadcast-join stages into one
    * deep plan; the literal form runs the identical arithmetic (same
    * fold order, same min(struct(dist, cid)) tie-break via `least`) in a
    * third of the stages — measured 1.8 s → sub-second on the sf0.1
    * residual training step.
    */
  def trainCodebook(
      embeddings: DataFrame, blocks: Int, subDim: Int, isSeed: Column, iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val sv = subVectors(embeddings, blocks, subDim).localCheckpoint()
    // Seeds read off the checkpointed sub-vector frame (isSeed is a
    // vec_id predicate), not a second pass over the embeddings scan.
    val seed = sv.filter(isSeed).select(col("blk"), col("vec_id").as("cid"), col("sv").as("cv"))
    val cbSchema = seed.schema
    var cbRows: Array[org.apache.spark.sql.Row] = seed.collect()
    for (_ <- 1 to iters if cbRows.nonEmpty) {
      // Per-block literal argmin: dist to each centroid is the identical
      // zip_with/fold expression the joined form evaluated per candidate
      // row; `least` over (dist, cid) structs reproduces the
      // min(struct(dist, cid)) aggregate's lexicographic tie-break.
      val byBlk = cbRows
        .groupBy(_.getInt(0))
        .view
        .mapValues(_.map(r => (r.get(1), r.getSeq[Double](2))).toSeq)
        .toSeq
        .sortBy(_._1)
      var pick: Column = null
      byBlk.foreach { case (b, cents) =>
        val structs = cents.map { case (cid, cv) =>
          val cvLit = array(cv.map(lit(_)): _*)
          val d = aggregate(
            zip_with(col("sv"), cvLit, (x, y) => (x - y) * (x - y)),
            lit(0.0),
            (acc, dd) => acc + dd,
          )
          struct(d.as("dist"), lit(cid).as("cid"))
        }
        val best = if (structs.size == 1) structs.head else least(structs: _*)
        pick = if (pick == null) when(col("blk") === b, best) else pick.when(col("blk") === b, best)
      }
      // Rows of a block with no surviving centroid mimic the former
      // inner join: they drop out (dead-centroid behavior unchanged).
      val assigned = sv
        .select(col("vec_id"), col("blk"), pick.getField("cid").as("cid"), col("sv"))
        .filter(col("cid").isNotNull)
      // One (blk, cid) aggregate with a fixed-point sum PER DIMENSION
      // (subDim named aggregates) instead of the posexplode +
      // (blk, cid, pos) + (blk, cid) two-shuffle rebuild: the per-dim
      // sums are exact integers in doubles ([[FpScale]]), so regrouping
      // the summation is bit-identical, and one exchange disappears per
      // iteration.
      val dimSums = (0 until subDim).map(p => fpSum(element_at(col("sv"), p + 1)).as(s"s$p"))
      cbRows = assigned
        .groupBy(col("blk"), col("cid"))
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .select(
          col("blk"),
          col("cid"),
          array((0 until subDim).map(p => fpMean(col(s"s$p"), col("n"))): _*).as("cv"),
        )
        .collect()
    }
    // The trained codebook is a tiny local relation; consumers that
    // reference it more than once (encode + LUT in the ADC path) read
    // the literal rows, never an iterative pipeline.
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(cbRows: _*)),
      cbSchema)
  }

  /** [[pqEncode]] without the final presentation sort — the form other
    * operators (the ADC scan) consume, so no range exchange is buried
    * inside their pipelines.
    */
  private[operators] def pqEncodeUnordered(
      embeddings: DataFrame, blocks: Int, subDim: Int, isSeed: Column, nSeeds: Int): DataFrame =
    pqEncodeWith(embeddings, blocks, subDim,
      seedCodebook(embeddings, blocks, subDim, isSeed), nSeeds)

  /** Encode against an arbitrary codebook frame (blk, cid, cv) —
    * unordered; the shared core of the seed and trained paths.
    */
  private[operators] def pqEncodeWith(
      embeddings: DataFrame, blocks: Int, subDim: Int, codebook: DataFrame, nSeeds: Int): DataFrame = {
    val v = subVectors(embeddings, blocks, subDim)
    val dist = aggregate(
      zip_with(col("sv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    // Per-(vector, block) argmin as min(struct(dist, cid)): map-side
    // partial aggregation exchanges one row per (vec_id, blk) instead of
    // the nSeeds candidate rows a window would shuffle AND sort. Ties
    // break to the lowest cid via struct lexicographic order — same
    // semantics as the former row_number() form, oracle unchanged.
    v.join(broadcast(codebook), Seq("blk"))
      .select(col("vec_id"), col("blk"), col("cid"), dist.as("dist"))
      .groupBy(col("vec_id"), col("blk"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("blk"), col("m.cid").as("cid"), col("m.dist").as("dist"))
      .groupBy(col("vec_id"))
      .agg(
        // cid·nSeeds^blk are exact small integers in doubles — the sum is
        // order-independent; recon_err is NOT, so it folds in block order.
        sum(col("cid") * pow(lit(nSeeds.toDouble), col("blk"))).cast("long").as("pq_code"),
        aggregate(
          transform(array_sort(collect_list(struct(col("blk"), col("dist")))), s => s.getField("dist")),
          lit(0.0),
          (acc, x) => acc + x,
        ).as("recon_err"),
      )
  }

  /** PQ asymmetric-distance (ADC) top-k — the search half of the
    * [[pqEncode]] story: the corpus is represented ONLY by its packed PQ
    * codes; each query precomputes a (block, centroid) → squared-L2
    * lookup table against the codebook, and a vector's approximate
    * distance is the sum of its blocks' LUT entries (strict fold in
    * block order — deterministic doubles). This is how a vector store
    * scans billions of codes without touching raw vectors.
    *
    * Scale shape: the LUT (queries × blocks × centroids rows) is tiny
    * and broadcasts; corpus codes explode ×blocks row-locally and join
    * the LUT on (block, code) — per-corpus-row work is O(blocks ×
    * queries), never O(dim); the per-(query, vector) fold and the rank
    * window shuffle on bounded keys.
    */
  def pqAdcTopK(
      embeddings: DataFrame,
      blocks: Int,
      subDim: Int,
      isSeed: Column,
      nSeeds: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame =
    pqAdcTopK(embeddings, blocks, subDim,
      seedCodebook(embeddings, blocks, subDim, isSeed), nSeeds, isQuery, k)

  /** [[pqAdcTopK]] against an explicit codebook frame (blk, cid, cv) —
    * the form a TRAINED codebook ([[trainCodebook]]) plugs into: both
    * the corpus encode and the query LUT derive from the same frame.
    */
  def pqAdcTopK(
      embeddings: DataFrame,
      blocks: Int,
      subDim: Int,
      codebook: DataFrame,
      nSeeds: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame = {
    val corpusCodes = explodeCodes(
      pqEncodeWith(embeddings, blocks, subDim, codebook, nSeeds), blocks, nSeeds)
    val qBlocks = subVectors(embeddings.filter(isQuery), blocks, subDim)
      .select(col("vec_id").as("query_id"), col("blk"), col("sv").as("qv"))
    adcTopKFrom(corpusCodes, qBlocks, codebook, k)
  }

  /** Unpack a packed-code frame (vec_id, pq_code) into per-block rows
    * (vec_id, blk, code) — row-local, the form the ADC LUT join scans.
    */
  private[operators] def explodeCodes(
      codes: DataFrame,
      blocks: Int,
      nSeeds: Int,
      keep: Seq[String] = Seq("vec_id"),
  ): DataFrame = {
    val divisors = array((0 until blocks).map(b => lit(math.pow(nSeeds.toDouble, b).toLong)): _*)
    codes
      .select(keep.map(col) ++ Seq(col("pq_code"), posexplode(divisors).as(Seq("blk", "divisor"))): _*)
      .select(keep.map(col) ++ Seq(col("blk"), expr(s"pq_code div divisor % $nSeeds").as("code")): _*)
  }

  /** The ADC scoring tail shared by the on-the-fly and stored-code
    * faces: broadcast per-query (block, centroid) LUT, one equi-join of
    * the exploded codes against it, block-ordered fold to the approx
    * distance, bounded-heap top-k. `corpusCodes` is (vec_id, blk,
    * code), `qBlocks` (query_id, blk, qv).
    */
  private[operators] def adcTopKFrom(
      corpusCodes: DataFrame,
      qBlocks: DataFrame,
      codebook: DataFrame,
      k: Int,
  ): DataFrame = {
    val cbBlocks = codebook.select(col("cid").as("code"), col("blk"), col("cv"))
    val lut = broadcast(
      qBlocks
        .join(cbBlocks, Seq("blk"))
        .select(
          col("query_id"),
          col("blk"),
          col("code"),
          aggregate(
            zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
            lit(0.0),
            (acc, d) => acc + d,
          ).as("d"),
        ),
    )
    val scored = corpusCodes
      .join(lut, Seq("blk", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("blk"), col("d")))), s => s.getField("d")),
          lit(0.0),
          (acc, x) => acc + x,
        ).as("approx_dist"),
      )
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("approx_dist"))
    rankTopK(scored, "approx_dist", ascending = true, k)
  }

  /** Two-stage retrieval re-rank — the final stage of the production
    * read path: a compressed index (ADC / IVF-PQ) nominates R candidate
    * ids per query, and only those rows' RAW vectors are fetched and
    * scored exactly. `candidates` carries (query_id, neighbor_id);
    * output is exact-cosine top-k under the same (score desc, then id)
    * tie contract as [[bruteForceTopK]], so the oracle re-ranks the
    * identical candidate set bit-for-bit.
    *
    * Scale shape: the candidate set is |queries|·R rows — it
    * localCheckpoints (the stage-1 plan computes once, not once per
    * consumer) and broadcasts; the raw corpus is touched by ONE
    * broadcast-hash join fetch on `vec_id` and is never shuffled. Exact
    * arithmetic runs on |queries|·R vectors instead of the corpus —
    * recall stays stage-1's candidate recall, while ordering within the
    * candidates becomes exact (so re-rank@k provably never has fewer
    * true top-k hits than stage-1@k over the same index).
    */
  def rerankExact(embeddings: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val cand = broadcast(
      candidates.select(col("query_id"), col("neighbor_id")).localCheckpoint(),
    )
    val qv = broadcast(
      embeddings
        .join(cand.select(col("query_id")).distinct(), col("vec_id") === col("query_id"))
        .select(col("query_id"), unitNorm(col("embedding")).as("qu")),
    )
    val scored = embeddings
      .join(cand, col("vec_id") === col("neighbor_id"))
      .join(qv, "query_id")
      .select(
        col("query_id"),
        col("neighbor_id"),
        dot(col("qu"), unitNorm(col("embedding"))).as("cosine"),
      )
    rankTopK(scored, "cosine", ascending = false, k)
  }

  /** IVF-style ANN with a precomputed coarse assignment column (here the
    * `label` column stands in for the nearest-centroid cell id a k-means
    * quantizer would produce): search only the query's cell.
    */
  /** Nearest-trained-centroid cell assignment — the coarse-quantizer
    * lookup an IVF index runs at ingest. The codebook frame is
    * [[trainCodebook]]'s `(blk, cid, cv)` shape with `blocks = 1`
    * (plain k-means over the full vector); it broadcasts whole (K rows)
    * and the argmin is the same `min(struct(dist, cid))` partial
    * aggregation as [[kmeansStep]] — the corpus is never shuffled, one
    * (vec_id, cell) row per vector comes out.
    */
  def assignCells(embeddings: DataFrame, codebook: DataFrame): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    val dist = aggregate(
      zip_with(e, col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    embeddings
      .crossJoin(broadcast(codebook.select(col("cid"), col("cv"))))
      .select(col("vec_id"), col("cid"), dist.as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))
  }

  def ivfTopK(embeddings: DataFrame, isQuery: Column, cell: Column, k: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"), unitNorm(col("embedding")).as("u"), cell.as("cell"))
    val queries = broadcast(
      v.filter(isQuery).select(col("vec_id").as("query_id"), col("u").as("qu"), col("cell")),
    )
    val scored = queries
      .join(v, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        dot(col("qu"), col("u")).as("cosine"),
      )
    rankTopK(scored, "cosine", ascending = false, k)
  }

  /** Multi-probe search over a TRAINED coarse quantizer — the nprobe
    * recall knob a real IVF index exposes. Each query is assigned to its
    * `nprobe` nearest trained centroids (broadcast codebook, bounded
    * top-P aggregate — the same no-shuffle shape as [[assignCells]]) and
    * searches all of them; the corpus keeps its single [[assignCells]]
    * cell, so the per-cell equi-join stays the only corpus exchange and
    * each (query, corpus) pair arises at most once (no dedup needed).
    * nprobe = 1 degenerates to [[ivfTopK]] over [[assignCells]].
    */
  def ivfMultiProbeTopK(
      embeddings: DataFrame,
      codebook: DataFrame,
      nprobe: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame = {
    val v = embeddings
      .join(assignCells(embeddings, codebook), "vec_id")
      .select(col("vec_id"), unitNorm(col("embedding")).as("u"), col("cell"))
    val e = transform(col("embedding"), x => x.cast("double"))
    val dist = aggregate(
      zip_with(e, col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    val probeCells = embeddings
      .filter(isQuery)
      .crossJoin(broadcast(codebook.select(col("cid"), col("cv"))))
      .select(col("vec_id"), col("cid"), dist.as("dist"))
      .groupBy(col("vec_id"))
      .agg(graft.expressions.TopKPairs.topK(col("dist"), col("cid"), nprobe, ascending = true).as("tk"))
      .select(col("vec_id").as("query_id"), explode(col("tk.id")).as("cell"))
    val queries = broadcast(
      embeddings
        .filter(isQuery)
        .select(col("vec_id").as("query_id"), unitNorm(col("embedding")).as("qu"))
        .join(probeCells, "query_id"),
    )
    val scored = queries
      .join(v, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        dot(col("qu"), col("u")).as("cosine"),
      )
    rankTopK(scored, "cosine", ascending = false, k)
  }

  /** IVF-PQ composed read path — the canonical billion-scale vector-store
    * architecture: a TRAINED coarse quantizer partitions the corpus into
    * cells ([[assignCells]]), the corpus is stored ONLY as packed PQ
    * codes ([[pqEncodeWith]]), and a query probes its `nprobe` nearest
    * cells and ADC-scans just those cells' codes against a broadcast
    * (block, centroid) lookup table. This is the non-residual IVF-PQ
    * variant (codes quantize the raw vectors, not the per-cell
    * residuals) — the composition of the trained-IVF and trained-ADC
    * paths over one shared corpus representation.
    *
    * Scale shape: the corpus is touched exactly twice at build (cell
    * assignment and PQ encode — both broadcast-join + map-side-combine
    * argmin, never shuffled wide) and once per read, where the only
    * corpus exchange is the (blocks-exploded) codes joining the
    * broadcast probe set on `cell` and the broadcast LUT on
    * (query, blk, code); the per-(query, vector) fold and bounded-heap
    * top-k partial-aggregate. nprobe = #cells degenerates to exactly
    * [[pqAdcTopK]] over the same codebook (pinned by SimilaritySpec).
    *
    * Determinism: both argmins are min(struct(dist, id)), the ADC
    * distance folds in block order, ties rank by neighbor id — the
    * DuckDB oracle reproduces every double bit-for-bit.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      coarseCodebook: DataFrame,
      pqCodebook: DataFrame,
      blocks: Int,
      subDim: Int,
      nSeeds: Int,
      nprobe: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame = {
    val cells = assignCells(embeddings, coarseCodebook)
    val divisors = array((0 until blocks).map(b => lit(math.pow(nSeeds.toDouble, b).toLong)): _*)
    val corpusCodes = pqEncodeWith(embeddings, blocks, subDim, pqCodebook, nSeeds)
      .join(cells, "vec_id")
      .select(col("vec_id"), col("cell"), col("pq_code"), posexplode(divisors).as(Seq("blk", "divisor")))
      .select(col("vec_id"), col("cell"), col("blk"), expr(s"pq_code div divisor % $nSeeds").as("code"))
    val e = transform(col("embedding"), x => x.cast("double"))
    val cdist = aggregate(
      zip_with(e, col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    val probeCells = broadcast(
      embeddings
        .filter(isQuery)
        .crossJoin(broadcast(coarseCodebook.select(col("cid"), col("cv"))))
        .select(col("vec_id"), col("cid"), cdist.as("dist"))
        .groupBy(col("vec_id"))
        .agg(graft.expressions.TopKPairs.topK(col("dist"), col("cid"), nprobe, ascending = true).as("tk"))
        .select(col("vec_id").as("query_id"), explode(col("tk.id")).as("cell")),
    )
    val qBlocks = subVectors(embeddings.filter(isQuery), blocks, subDim)
      .select(col("vec_id").as("query_id"), col("blk"), col("sv").as("qv"))
    ivfPqTopKFrom(corpusCodes, probeCells, qBlocks, pqCodebook, k)
  }

  /** The IVF-PQ scoring tail shared by the on-the-fly and stored-index
    * faces: broadcast per-query LUT, codes restricted to probed cells,
    * block-ordered fold, bounded-heap top-k. `corpusCodes` is (vec_id,
    * cell, blk, code), `probeCells` (query_id, cell), `qBlocks`
    * (query_id, blk, qv).
    */
  private[operators] def ivfPqTopKFrom(
      corpusCodes: DataFrame,
      probeCells: DataFrame,
      qBlocks: DataFrame,
      pqCodebook: DataFrame,
      k: Int,
  ): DataFrame = {
    val cbBlocks = pqCodebook.select(col("cid").as("code"), col("blk"), col("cv"))
    val lut = broadcast(
      qBlocks
        .join(cbBlocks, Seq("blk"))
        .select(
          col("query_id"),
          col("blk"),
          col("code"),
          aggregate(
            zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
            lit(0.0),
            (acc, d) => acc + d,
          ).as("d"),
        ),
    )
    val scored = corpusCodes
      .join(probeCells, Seq("cell"))
      .join(lut, Seq("query_id", "blk", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("blk"), col("d")))), s => s.getField("d")),
          lit(0.0),
          (acc, x) => acc + x,
        ).as("approx_dist"),
      )
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("approx_dist"))
    rankTopK(scored, "approx_dist", ascending = true, k)
  }

  /** RESIDUAL IVF-PQ — the production vector-index encoding: the PQ
    * codebook is trained on, and the codes represent, each vector's
    * residual against its coarse cell centroid (vec − c_cell), not the
    * raw vector. Residuals concentrate near the origin, so the same code
    * budget spends its centroids on a much tighter distribution — the
    * accuracy-per-byte step that makes [[ivfPqTopK]]'s raw-vector codes
    * look like the baseline they are.
    *
    * Read path: a query probes its `nprobe` nearest coarse cells; for
    * each probed cell it forms the PER-CELL query residual (q − c_cell)
    * and builds that cell's LUT, so
    * ‖q − (c_cell + decode(code))‖² = ‖(q − c_cell) − decode(code)‖²
    * is the block-LUT sum exactly as in plain ADC. The LUT join key
    * gains `cell`: corpus codes join the broadcast LUT on (cell, blk,
    * code) — the LUT itself restricts the scan to probed cells, so no
    * separate probe-set join is needed and the only corpus exchange is
    * that broadcast-hash join plus the (query, vec) fold aggregate.
    *
    * Training and encode touch the corpus via the same broadcast-join +
    * map-side-combine argmin shapes as [[trainCodebook]] /
    * [[pqEncodeWith]] (the residual frame is computed row-locally off a
    * broadcast coarse codebook); nothing here shuffles the corpus wider
    * than its own keys at 100 TB.
    *
    * Determinism: identical contracts to [[ivfPqTopK]] (min-struct
    * argmins, block-ordered folds, id tie-breaks) plus elementwise
    * residual subtraction — bit-reproduced by the DuckDB oracle.
    */
  def ivfPqResidualTopK(
      embeddings: DataFrame,
      coarseCodebook: DataFrame,
      blocks: Int,
      subDim: Int,
      nSeeds: Int,
      nprobe: Int,
      isSeed: Column,
      iters: Int,
      isQuery: Column,
      k: Int,
  ): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    val coarseByCell = coarseCodebook.select(col("cid").as("cell"), col("cv"))
    val cells = assignCells(embeddings, coarseCodebook)
    val resFrame = embeddings
      .join(cells, "vec_id")
      .join(broadcast(coarseByCell), "cell")
      .select(col("vec_id"), col("cell"), zip_with(e, col("cv"), (x, y) => x - y).as("embedding"))
      .localCheckpoint()
    val pqCb = trainCodebook(resFrame, blocks, subDim, isSeed, iters)
    val corpusCodes = pqEncodeWith(resFrame, blocks, subDim, pqCb, nSeeds)
      .select(col("vec_id"), col("pq_code"))
      .join(resFrame.select(col("vec_id"), col("cell")), "vec_id")
    val cdist = aggregate(
      zip_with(e, col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, d) => acc + d,
    )
    val probeCells = embeddings
      .filter(isQuery)
      .crossJoin(broadcast(coarseCodebook.select(col("cid"), col("cv"))))
      .select(col("vec_id"), col("cid"), cdist.as("dist"))
      .groupBy(col("vec_id"))
      .agg(graft.expressions.TopKPairs.topK(col("dist"), col("cid"), nprobe, ascending = true).as("tk"))
      .select(col("vec_id").as("query_id"), explode(col("tk.id")).as("cell"))
    // Per-(query, probed cell) residual, sliced into PQ blocks.
    val qres = embeddings
      .filter(isQuery)
      .select(col("vec_id").as("query_id"), e.as("qe"))
      .join(probeCells, "query_id")
      .join(broadcast(coarseByCell), "cell")
      .select(col("query_id"), col("cell"), zip_with(col("qe"), col("cv"), (x, y) => x - y).as("qr"))
    val qBlocks = qres.select(
      col("query_id"),
      col("cell"),
      posexplode(array((0 until blocks).map(b => slice(col("qr"), b * subDim + 1, subDim)): _*))
        .as(Seq("blk", "qv")),
    )
    // Each (query, probed cell)'s LUT packed into ONE map column keyed
    // blk·nSeeds + code. The former shape exploded every corpus code
    // ×blocks, joined the flat LUT on (cell, blk, code) and re-grouped by
    // (query_id, vec_id) with a collect_list + array_sort + fold — one
    // corpus-scale exchange plus a per-pair sort that this projection
    // replaces. Every (blk, code in pqCb) key is present per (query,
    // cell) (qBlocks carries all blocks, the LUT join is a full blk
    // cross), and corpus codes only take surviving pqCb cids, so the map
    // lookups below never miss — the inner-join semantics are preserved.
    val lut = broadcast(
      qBlocks
        .join(pqCb.select(col("cid").as("code"), col("blk"), col("cv")), Seq("blk"))
        .select(
          col("query_id"),
          col("cell"),
          (col("blk") * nSeeds + col("code")).cast("int").as("lk"),
          aggregate(
            zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
            lit(0.0),
            (acc, d) => acc + d,
          ).as("d"),
        )
        .groupBy(col("query_id"), col("cell"))
        .agg(map_from_entries(collect_list(struct(col("lk"), col("d")))).as("lut")),
    )
    // Strict fold in ascending blk order — the identical summation order
    // (and identical per-block doubles) as the former
    // array_sort(struct(blk, d)) fold, so approx_dist is bit-equal.
    val approxDist = (0 until blocks).foldLeft(lit(0.0)) { (acc, b) =>
      val divisor = math.pow(nSeeds.toDouble, b).toLong
      acc + element_at(col("lut"), expr(s"pq_code div ${divisor}L % $nSeeds").cast("int") + lit(b * nSeeds))
    }
    // A (blk, code) key missing from the LUT makes its element_at NULL,
    // and so the whole sum: fail loudly rather than rank a NULL
    // distance. coalesce returns the sum itself whenever it is set, so
    // the no-miss path stays bit-equal.
    val checkedDist = coalesce(
      approxDist, raise_error(lit("ivfPqResidualTopK: pq code missing from the query LUT")))
    val scored = corpusCodes
      .join(lut, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), checkedDist.as("approx_dist"))
    rankTopK(scored, "approx_dist", ascending = true, k)
  }
}
