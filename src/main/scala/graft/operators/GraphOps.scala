package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation (power-iteration PageRank) in EXACT
  * integer arithmetic, plus the co-occurrence graph build that feeds
  * it. Link-graph centrality is a standard corpus-quality signal in
  * training-data pipelines; this is that computation in the
  * bit-reproducible style the repo's oracles demand: ranks are scaled
  * integers (`scale` ≈ total mass), every step is integer
  * multiply/divide/sum, so there is no floating-point summation-order
  * drift between engines — the DuckDB oracle unrolls the same
  * iterations and matches every rank exactly.
  *
  * Scale shape: one iteration = one broadcast-free equi-join of the
  * edge list with the current rank vector (both keyed by node) plus one
  * `dst`-keyed sum — the canonical distributed PageRank round, O(|E|)
  * shuffled per round with no driver participation. The rank frame
  * localCheckpoints per round (the established iterative-algorithm
  * rule: lineage must not grow with the iteration count).
  */
object GraphOps {

  /** Symmetric co-occurrence edges: src → dst when the two keys appear
    * under one shared group (here: two suppliers filling lines of the
    * same order). Both directions are emitted, so every node with an
    * in-edge has an out-edge — no dangling-mass correction is needed
    * downstream.
    *
    * Skew guard: the group self-join is quadratic in DISTINCT group
    * members, so one hub group (a boilerplate document, a hot session)
    * of size s produces s·(s−1) edge candidates and its group key lands
    * on one task — the classic co-occurrence blow-up. Two defenses,
    * always on: (1) members are distinct-reduced BEFORE the self-join
    * (duplicate (group, key) rows used to multiply join output only for
    * the trailing distinct to discard); (2) groups with more than
    * `maxGroupSize` distinct members are dropped WHOLESALE — the
    * stop-key discipline LSH band tables use. A group that size carries
    * near-zero co-occurrence signal (every member "co-occurs" with
    * everything) and unbounded cost; dropping it bounds per-group work
    * at maxGroupSize² while leaving every sane group's edges untouched
    * (GraphSpec pins both properties). Plan cost: the distinct
    * exchanges on (g, k); the size window then exchanges on g — but
    * that g-partitioning is exactly what the self-join requires, so the
    * join itself adds no further exchange. Net: same exchange count as
    * the unguarded form, plus one per-group sort.
    */
  def coOccurrenceEdges(
      rows: DataFrame,
      groupCol: String,
      keyCol: String,
      maxGroupSize: Int = 1000,
  ): DataFrame =
    edgesFromMembers(
      rows.select(col(groupCol).as("g"), col(keyCol).as("k")).distinct(),
      maxGroupSize)

  /** The symmetric edge derivation over a distinct (g, k) membership
    * frame — [[coOccurrenceEdges]]' tail, shared with the growable
    * artifact's rebuild path ([[growEdgeTable]]), whose ground truth IS
    * a stored membership table.
    */
  private def edgesFromMembers(members: DataFrame, maxGroupSize: Int): DataFrame = {
    val sized = members
      .withColumn("gs", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .filter(col("gs") <= maxGroupSize)
      .select(col("g"), col("k"))
    sized
      .select(col("g"), col("k").as("src"))
      .join(sized.select(col("g"), col("k").as("dst")), "g")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
  }

  /** Integer-scaled PageRank, damping 85/100, `iters` power iterations:
    *
    *   pr₀(v)   = scale div N
    *   prᵢ₊₁(v) = (15·(scale div N)) div 100
    *            + (85·Σ_{u→v} (prᵢ(u) div outdeg(u))) div 100
    *
    * All divisions are integer (truncating; every operand is
    * non-negative, so Spark `div` and DuckDB `//` agree exactly).
    * Truncation loses a bounded trickle of mass per round — the price
    * of bit-reproducibility across engines, which IEEE-double PageRank
    * cannot offer under Spark's partition-order-dependent summation.
    *
    * Nodes are the edge list's sources (callers feeding a symmetric
    * edge set — [[coOccurrenceEdges]] — cover every non-isolated node).
    * Output: (node, out_deg, pr) after `iters` rounds.
    */
  def pageRankInt(edges: DataFrame, iters: Int, scale: Long): DataFrame = {
    val adj = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), "src")
      .select(col("src"), col("dst"), col("out_deg"))
      .localCheckpoint()
    pageRankLoop(adj, iters, scale)
  }

  /** [[pageRankInt]] with the adjacency PERSISTED as a table bucketed
    * on `src` — the artifact discipline the persisted indexes follow,
    * applied to the one iterative-graph workload: every rank-update
    * join reads the edge side exchange-free (only the rank vector —
    * |V| rows, not |E| — shuffles to the bucket layout per round), so
    * the per-iteration edge exchange that dominated the q family's
    * shuffle bytes is deleted. The dst-keyed contribution sum still
    * shuffles, but map-side partial aggregation bounds it at distinct
    * dst per partition. Ranks are bit-identical to [[pageRankInt]]
    * (integer arithmetic is summation-order-free; GraphSpec asserts
    * equality and pins the exchange-free edge scan).
    */
  def pageRankIntBucketed(
      spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame,
      iters: Int,
      scale: Long,
      table: String,
      buckets: Int = 32,
  ): DataFrame = {
    buildEdgeTable(spark, edges, table, buckets)
    pageRankOnTable(spark, table, iters, scale)
  }

  /** Persist the (src, dst, out_deg) adjacency of `edges` bucketed and
    * sorted on src — the build-once edge artifact [[pageRankOnTable]]
    * iterates over. Like every persisted index, the build belongs in
    * the un-timed setup phase: a link graph pre-exists its centrality
    * runs.
    */
  def buildEdgeTable(
      spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame,
      table: String,
      buckets: Int = 32,
  ): Unit = {
    edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), "src")
      .select(col("src"), col("dst"), col("out_deg"))
      .write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  /** Persist a symmetric (src, dst) edge set bucketed and sorted on
    * src — the build-once artifact the non-pagerank graph analytics
    * (triangles, k-core, reachability) read instead of re-deriving the
    * co-occurrence join per run: a link/co-occurrence graph pre-exists
    * its analytics, and the quadratic group self-join is the dominant
    * cost the artifact amortizes. [[buildEdgeTable]] is the
    * out-degree-carrying sibling the pagerank loop iterates over.
    */
  def buildSymEdgeTable(
      spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame,
      table: String,
      buckets: Int = 32,
  ): Unit = {
    edges
      .select(col("src"), col("dst"))
      .write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  /** The iterative loop over a stored edge artifact ([[buildEdgeTable]]). */
  def pageRankOnTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      iters: Int,
      scale: Long,
  ): DataFrame =
    pageRankLoop(spark.table(table), iters, scale)

  private def pageRankLoop(adj: DataFrame, iters: Int, scale: Long): DataFrame = {
    val deg = adj.select(col("src").as("node"), col("out_deg")).distinct().localCheckpoint()
    // N is vocabulary metadata (one bounded scalar, the same class of
    // driver read as the clustering convergence checks); inlining
    // `scale div N` as a literal deletes the per-round crossJoin of the
    // one-row count frame.
    val n = deg.count()
    val pr0 = if (n > 0) scale / n else 0L
    val baseConst = (15L * pr0) / 100L
    var pr = deg.select(col("node"), lit(pr0).as("pr")).localCheckpoint()
    for (_ <- 1 to iters) {
      // One exchange per round instead of three: the contribution rows
      // union a zero row per node (so nodes with no inbound mass stay
      // present — the symmetric-edge contract guarantees every dst is a
      // source, GraphSpec-pinned), and a single dst-keyed sum replaces
      // the former groupBy + left-join-back-to-base pair.
      val contrib = adj
        .join(pr, adj("src") === pr("node"))
        .select(col("dst").as("node"), expr("pr div out_deg").as("c"))
      pr = contrib
        .unionAll(deg.select(col("node"), lit(0L).as("c")))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("sc"))
        .select(col("node"), (lit(baseConst) + expr("(85 * sc) div 100")).as("pr"))
        .localCheckpoint()
    }
    deg.join(pr, "node").select(col("node"), col("out_deg"), col("pr")).orderBy("node")
  }

  /** Per-node triangle counts by DEGREE ORIENTATION — the standard
    * distributed formulation: orient every undirected edge from its
    * lower (degree, node) endpoint to the higher, so the oriented
    * graph is a DAG whose out-degrees are bounded by O(√m) even when
    * raw degrees are wildly skewed; each triangle then materializes as
    * exactly ONE wedge (a→b, a→c with b→c oriented too), so the wedge
    * join — the quadratic step — is quadratic in the CAPPED
    * out-degree, not in a hub's raw degree. A naive 3-way self-join on
    * the raw edges enumerates every triangle 6× and explodes on hubs;
    * this is the shape that survives 100 TB.
    *
    * `edges` must be a SYMMETRIC distinct edge set (both directions
    * present, no self-loops) — [[coOccurrenceEdges]]' contract; the
    * undirected reduction is then a `src < dst` filter, shuffle-free.
    * Output: (node, n_triangles) for every node on ≥1 triangle,
    * ordered by node; each triangle credits all three corners.
    */
  /** Bounded-round k-core peeling: `rounds` iterations of "drop every
    * node whose degree in the CURRENT subgraph is < k" — the standard
    * degeneracy/cohesion filter (a training-data pipeline uses it to
    * keep only densely co-occurring entities). Bounded rounds, not a
    * fixpoint, for the same reason [[pageRankInt]] fixes `iters`: a
    * deterministic, oracle-checkable contract (full-core convergence
    * is the rounds → ∞ limit; each round only shrinks the subgraph, so
    * a converged graph is a fixpoint of further rounds).
    *
    * `edges` must be symmetric and distinct ([[coOccurrenceEdges]]'
    * contract). Per round: one degree aggregation + two semi-joins on
    * node keys — narrow-key shuffles whose input only shrinks;
    * `localCheckpoint` truncates the iterative lineage. Output: (node,
    * degree) within the subgraph surviving all `rounds` peels, ordered
    * by node (nodes stripped of every edge drop out of the degree
    * count and the output).
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    def degrees(und: DataFrame) =
      und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("degree"))
    var cur = edges.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // `alive` is checkpointed deliberately: lazy, its aggregate sits
      // under TWO differently-projected broadcast builds (u-side and
      // v-side), which do NOT share one exchange — measured 2× on the
      // quiet composite when left lazy (r19: 0.45 → 0.88 s). The extra
      // tiny job per round is cheaper than the double aggregate.
      val alive = degrees(cur).filter(col("degree") >= k).select(col("node")).localCheckpoint()
      cur = cur
        .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
    }
    degrees(cur).orderBy("node")
  }

  /** Bounded-hop BFS shortest-path levels from the highest-degree node:
    * `(node, hops)` with hops = min path length ≤ maxHops from the seed
    * (the node with the largest out-degree, ties to the smallest id).
    *
    * Semantically identical to the textbook recursive-CTE form
    * (`r(node, hops) = seed UNION ALL step(r)` followed by min(hops) —
    * the shape the DuckDB oracle states), but computed as FRONTIER
    * expansion over distinct node sets: the recursive UNION ALL
    * enumerates every PATH of length ≤ maxHops, which is exponential in
    * the hop bound on dense graphs (measured: 8M+ path rows for 3 hops
    * on the 997-node sf0.1 co-occurrence slice — the row count the
    * min-aggregate then folds away), while the frontier form carries at
    * most |V| rows per level. min over the per-level unions equals min
    * over per-path rows because a node appears at level i iff some
    * length-i path reaches it. This is the 100 TB shape: path
    * enumeration is a scale-killer, frontier BFS is linear per hop.
    *
    * The seed read is one bounded scalar (the same driver-read class as
    * the clustering convergence checks).
    */
  def bfsHops(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val seedRow = edges
      .groupBy(col("src"))
      .agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src"))
      .limit(1)
      .select(col("src"))
      .collect()
    val spark = edges.sparkSession
    if (seedRow.isEmpty) {
      // Empty edge set: the recursive form yields no rows.
      return edges.select(col("src").as("node"), lit(0L).as("hops")).limit(0)
    }
    val seed = seedRow(0).get(0)
    // The seed filter keeps the node column's native type (the literal
    // comparison coerces); the seed has out-edges by construction.
    var frontier = edges
      .filter(col("src") === lit(seed))
      .select(col("src").as("node"))
      .distinct()
      .localCheckpoint()
    var levels = frontier.select(col("node"), lit(0).as("hops"))
    for (h <- 1 to maxHops) {
      frontier = edges
        .join(frontier.select(col("node").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("node"))
        .distinct()
        .localCheckpoint()
      levels = levels.unionAll(frontier.select(col("node"), lit(h).as("hops")))
    }
    levels
      .groupBy(col("node"))
      .agg(min(col("hops")).cast("long").as("hops"))
      .orderBy("node")
  }

  /** Build the GROWABLE co-occurrence edge artifact — the incremental
    * sibling of [[buildSymEdgeTable]]/[[buildEdgeTable]] (a link graph
    * at corpus scale grows daily; rebuilding the quadratic group
    * self-join per refresh is exactly the shape the persisted indexes
    * eliminated). Three tables:
    *   - `${table}_members(g, k)` — the distinct group-membership
    *     ground truth, bucketed on `g`: the self-join key, so both the
    *     incremental candidate join and the rare rebuild read it
    *     exchange-free;
    *   - `${table}(src, dst)` — the symmetric distinct edge set,
    *     bucketed+sorted on `src` (identical layout and content to
    *     [[buildSymEdgeTable]] over [[coOccurrenceEdges]] of the same
    *     rows — GraphSpec pins bit-equality);
    *   - `${table}_deg(src, out_deg)` — the out-degree artifact,
    *     bucketed on `src` at the same count, so
    *     [[pageRankOnGrownTable]]'s adjacency join needs no exchange.
    */
  def buildGrowableEdgeTable(
      spark: org.apache.spark.sql.SparkSession,
      rows: DataFrame,
      groupCol: String,
      keyCol: String,
      table: String,
      maxGroupSize: Int = 1000,
      buckets: Int = 32,
  ): Unit = {
    IndexCatalog.dropLedger(spark, table)
    rows
      .select(col(groupCol).cast("long").as("g"), col(keyCol).cast("long").as("k"))
      .distinct()
      .write.mode("overwrite")
      .bucketBy(buckets, "g")
      .saveAsTable(s"${table}_members")
    spark.catalog.refreshTable(s"${table}_members")
    edgesFromMembers(spark.table(s"${table}_members"), maxGroupSize)
      .write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(table)
    spark.catalog.refreshTable(table)
    spark.table(table)
      .groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
      .write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(s"${table}_deg")
    spark.catalog.refreshTable(s"${table}_deg")
  }

  /** Grow the artifact with a batch of new group rows — append-only on
    * the common path, with the same ledger/staged discipline as the
    * index families' ingests. Steps, all replay-idempotent:
    *
    *   1. fresh members = the batch's distinct (g, k) minus the
    *      PRE-BATCH membership (the stored table anti-joined against
    *      the batch's own rows, so a crashed partial append can't
    *      perturb the view — the [[LshIndexOps.ingestBatchAndMaintain]]
    *      exclusion trick);
    *   2. new edges = fresh × (all post-batch members of the touched,
    *      still-sane groups), symmetrized, minus edges already stored —
    *      the anti-join makes the append idempotent AND dedups edges a
    *      different group already witnessed. Only TOUCHED groups are
    *      read: per-batch work scales with the batch's groups, not |E|;
    *   3. the hub stop-key rule survives incrementally: a group whose
    *      membership CROSSES `maxGroupSize` with this batch must have
    *      its previously-emitted edges RETRACTED (the wholesale-drop
    *      contract [[coOccurrenceEdges]] documents) — and since edges
    *      don't carry witness groups, retraction is a STAGED full
    *      rebuild from the membership ground truth (rare by
    *      construction: once over the cap a group never re-crosses,
    *      and the rebuild reads the bucketed members table, never the
    *      raw corpus), committed by [[IndexCatalog.swapStaged]];
    *   4. `${table}_deg` refreshes as a staged overwrite — O(|V|),
    *      computed exchange-free off the bucketed edge table.
    *
    * The ingest ledger ([[IndexCatalog.ledgered]]) short-circuits
    * committed batches. The batch key is `batchId` when the caller
    * supplies one (the natural identity a scheduler or ingest pipeline
    * already carries — the dd/mm ingest-ledger shape); otherwise it is
    * a CONTENT key, the order-independent sum of `xxhash64(g, k)` over
    * the batch's distinct rows. A stream ([[IndexCatalog.stream]])
    * passes no `batchId`: its epoch ids restart at 0 with every fresh
    * checkpoint, so a re-pointed stream would alias the previous
    * stream's batches. Both keys are reproducible across replays,
    * and — unlike the min-(g, k) key this replaced — the content key
    * cannot alias two DISTINCT batches that happen to share their
    * minimum member (an at-least-once redelivery of the earlier
    * batch's min row alongside genuinely new rows used to
    * short-circuit the whole second batch). Two batches with IDENTICAL
    * content do collide — correctly: growing by the same rows twice is
    * a semantic no-op. Every step between intent and commit is
    * idempotent, so any crash point replays to the identical artifact
    * (GraphSpec pins N-batch grow ≡ rebuild, replay as a no-op,
    * min-sharing batches both committing, and the cap-crossing
    * retraction — including the overlapping-batch crossing).
    * `crashAfter` ("members" | "edges") is the spec's fault-injection
    * seam, throwing right after the named mutation.
    */
  def growEdgeTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      batch: DataFrame,
      groupCol: String,
      keyCol: String,
      maxGroupSize: Int = 1000,
      batchId: Option[Long] = None,
      crashAfter: String = "",
  ): Unit = {
    val membersT = s"${table}_members"
    val batchMembers = batch
      .select(col(groupCol).cast("long").as("g"), col(keyCol).cast("long").as("k"))
      .distinct()
      .localCheckpoint()
    if (batchMembers.isEmpty) return
    // Explicit ids and content keys live in disjoint namespaces so a
    // small scheduler id can never collide with a content hash.
    val batchKey = batchId match {
      case Some(id) => s"id:$id"
      case None =>
        // decimal(38,0) accumulation: a sum of 64-bit hashes overflows
        // LongType (an error under ANSI mode) — the DedupOps.fingerprint
        // discipline.
        val h = batchMembers
          .agg(sum(xxhash64(col("g"), col("k")).cast("decimal(38,0)")))
          .first().getDecimal(0)
        s"h:$h"
    }
    IndexCatalog.ledgered(spark, table, batchKey) { replaying =>
      val stored = spark.table(membersT)
      val affected = batchMembers.select(col("g")).distinct()
      // Members of the touched groups as of BEFORE the batch — the
      // anti-join excludes any rows a crashed prior attempt appended.
      val preAff = stored
        .join(affected, Seq("g"), "left_semi")
        .join(batchMembers, Seq("g", "k"), "left_anti")
      val fresh = batchMembers.join(preAff, Seq("g", "k"), "left_anti")
      val postAff = preAff.unionByName(fresh).localCheckpoint()
      val postSizes = postAff.groupBy(col("g")).agg(count(lit(1)).as("gs"))
      // Crossing = a group whose TRUE pre-batch membership was sane (and
      // big enough, ≥ 2, to have emitted an edge) pushed over the cap by
      // this batch; its stored edges must be retracted via the rebuild
      // path. On the common first-attempt path the stored table IS the
      // pre-batch truth, so its raw per-group counts decide exactly —
      // in particular a batch that RE-SENDS existing members still
      // counts them (the exclusion-trick counts undercounted here, and a
      // batch re-sending ALL of a group's members dropped it from the
      // inner join entirely, silently skipping the retraction). Only a
      // replay of a crashed attempt can have appended batch rows into
      // `stored`; there the raw count is polluted UPWARD and the
      // excluded count is biased DOWNWARD, so the true pre-size sits
      // between them and the bracket [excluded ≤ cap, raw ≥ 2] catches
      // every genuine crossing — at worst it triggers a spurious
      // rebuild, which converges to the identical truth (rebuilds are
      // always semantically correct; the test only exists to keep them
      // rare).
      val over = postSizes.filter(col("gs") > maxGroupSize)
      val preRawSizes = stored
        .join(affected, Seq("g"), "left_semi")
        .groupBy(col("g")).agg(count(lit(1)).as("pgs"))
      val crossed =
        if (!replaying)
          over.join(preRawSizes, Seq("g"))
            .filter(col("pgs") >= 2 && col("pgs") <= maxGroupSize)
        else
          over.join(preRawSizes, Seq("g"))
            .join(
              preAff.groupBy(col("g")).agg(count(lit(1)).as("pgs_excl")),
              Seq("g"), "left")
            .filter(col("pgs") >= 2 && coalesce(col("pgs_excl"), lit(0L)) <= maxGroupSize)
      val mustRebuild = !crossed.isEmpty
      // Both append frames materialize BEFORE any table mutates.
      val memberAppend = batchMembers
        .join(stored, Seq("g", "k"), "left_anti")
        .localCheckpoint()
      val sane = postSizes.filter(col("gs") <= maxGroupSize).select(col("g"))
      // Candidate left side: on the first attempt only the truly-new
      // members can witness a new edge (a re-sent member's pairs are all
      // stored — overlapping batches pay for their new rows only); on a
      // replay the crashed attempt may have appended members WITHOUT
      // their edges, so the full batch re-candidates (the stored-edge
      // anti-join keeps it idempotent either way).
      val candLeft = if (replaying) fresh else memberAppend
      val cand = candLeft
        .join(sane, Seq("g"), "left_semi")
        .select(col("g"), col("k").as("src"))
        .join(postAff.select(col("g"), col("k").as("dst")), "g")
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      val edgeAppend =
        if (mustRebuild) None
        else
          Some(
            cand.unionAll(cand.select(col("dst").as("src"), col("src").as("dst")))
              .distinct()
              .join(spark.table(table), Seq("src", "dst"), "left_anti")
              .localCheckpoint())
      if (!memberAppend.isEmpty) IndexCatalog.append(spark, membersT, memberAppend)
      // Spec fault-injection seam (the LshIndexOps/SearchIndexOps
      // crashAfter discipline): die between the member append and the
      // edge mutation, the exact window the replay bracket exists for.
      if (crashAfter == "members")
        throw new IllegalStateException("injected crash after members append")
      if (mustRebuild) {
        // The rare retraction path: rebuild the edge set from the
        // membership ground truth (now including this batch), staged and
        // rename-swapped so readers are served throughout.
        IndexCatalog.swapStaged(
          spark,
          Seq(IndexCatalog.stageTableFrom(
            spark, table, edgesFromMembers(spark.table(membersT), maxGroupSize))))
        spark.catalog.refreshTable(table)
      } else edgeAppend.filter(!_.isEmpty).foreach(IndexCatalog.append(spark, table, _))
      // Second seam: die between the edge mutation and the _deg refresh
      // + commit — the replay must converge without double-appending.
      if (crashAfter == "edges")
        throw new IllegalStateException("injected crash after edge append")
      refreshDegTable(spark, table)
    }
  }

  /** Refresh `${table}_deg` from the current edge set — a staged
    * O(|V|) overwrite (the edge table is bucketed on src, so the
    * degree aggregation itself is exchange-free), rename-swapped so a
    * concurrent pagerank run never reads a half-written degree table.
    */
  private def refreshDegTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
  ): Unit = {
    val degT = s"${table}_deg"
    IndexCatalog.swapStaged(
      spark,
      Seq(IndexCatalog.stageTableFrom(
        spark, degT, spark.table(table).groupBy(col("src")).agg(count(lit(1)).as("out_deg")))))
    spark.catalog.refreshTable(degT)
  }

  /** PageRank over the GROWN artifact: the stored symmetric edges join
    * their maintained out-degrees — both bucketed on src at the same
    * count, so the adjacency assembly adds no exchange — then the same
    * integer power iteration as [[pageRankOnTable]]. Bit-equal to
    * [[pageRankInt]] over the equivalent edge set (integer arithmetic
    * is summation-order-free; the registry face shares q_pagerank's
    * FULL-CORPUS oracle).
    */
  def pageRankOnGrownTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      iters: Int,
      scale: Long,
  ): DataFrame =
    // Both tables are swap-managed (the cap-crossing retraction
    // rename-swaps the edge table, every grow rename-swaps `_deg`), so
    // both reads go through the retry-then-`_old` resilience path.
    pageRankLoop(
      IndexCatalog.readLive(spark, table)
        .join(IndexCatalog.readLive(spark, s"${table}_deg"), "src"),
      iters, scale)

  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") < col("dst")).select(col("src").as("u"), col("dst").as("v"))
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("d"))
    val ori = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"),
      )
      .localCheckpoint()
    val wedges = ori
      .join(ori.select(col("a").as("b"), col("b").as("c")), "b")
      .select(col("a").as("x"), col("b").as("y"), col("c").as("z"))
    val tri = wedges
      .join(ori.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"), "left_semi")
    // One pass over the triangle rows: each triangle contributes its three
    // corners via a row-local explode. The former union of three
    // projections re-executed the wedge join + semi-join subtree once per
    // branch (no exchange to reuse above the join) — 3× the dominant cost.
    // The exploded multiset is identical, so the per-node counts are too.
    tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("node")
  }
}
