package graft

import org.apache.spark.sql.functions.{col, count, lit}
import graft.operators.TextOps
import Tables.documents

/** Text-analysis queries over `documents` (SURVEY.md §7.2 M4): token
  * counting, quality scoring, language-id, fingerprinting — the
  * pre-training-curation staples, each with an exact DuckDB oracle.
  */
object TextQueries {

  private val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")

  /** Pinned iteration count of the multi-step BPE training pair
    * (tx_bpe_train / tx_bpe_train_encode).
    */
  private val BpeTrainRounds = 8

  /** The UNROLLED BPE-training CTE chain (the unrolled-Lloyd oracle
    * discipline): e0 is the bracket-serialized corpus (doc_id and the
    * base token count carried through every round); per round i,
    * `p_i` re-tokenizes and pairs the current stream, `m_i` is the
    * argmax merge under the (count DESC, tok_a, tok_b) tie-break,
    * `e_i` applies it corpus-wide as one literal replace, and `n_i`
    * is the post-merge corpus token count. Shared by the training
    * oracle (reads m_i/n_i), the composed train→encode oracle (reads
    * e_rounds per document), and — with `trainWhere` restricting e0 to
    * the deterministic hash sample — the sampled-training oracle
    * (reads only the m_i merge rows and applies them elsewhere).
    */
  private def bpeTrainChain(rounds: Int, trainWhere: String = ""): String = {
    val reTok = """regexp_extract_all(s, '\[([^\]]+)\]', 1)"""
    val roundCtes = (1 to rounds).map { i =>
      s"""|p$i AS (SELECT tk[bi] AS tok_a, tk[bi+1] AS tok_b
          |  FROM (SELECT tk, unnest(generate_series(1, len(tk)-1)) AS bi
          |        FROM (SELECT $reTok AS tk FROM e${i - 1}))),
          |m$i AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS pair_count
          |  FROM p$i GROUP BY tok_a, tok_b
          |  ORDER BY pair_count DESC, tok_a, tok_b LIMIT 1),
          |e$i AS (SELECT doc_id, n_before,
          |               replace(s, '[' || tok_a || '][' || tok_b || ']',
          |                          '[' || tok_a || tok_b || ']') AS s
          |  FROM e${i - 1} CROSS JOIN m$i),
          |n$i AS (SELECT CAST(sum(length(s) - length(replace(s, '[', ''))) AS BIGINT)
          |          AS n_tokens_after FROM e$i)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS BIGINT)
       |           AS n_before,
       |         array_to_string(
       |           list_transform(regexp_extract_all(text, '${TextOps.BpePattern}'),
       |                          x -> '[' || x || ']'), '') AS s
       |  FROM documents $trainWhere),
       |$roundCtes""".stripMargin
  }

  /** Pinned round count of the trained quality classifier
    * (tx_quality_train / tx_quality_trained / tx_quality_train_sampled).
    */
  private val QualityTrainRounds = 8

  /** The integer quality-feature derivation (TextOps.qualityFeatures'
    * arithmetic verbatim: five 0..32 features + the exact-integer
    * heuristic label), optionally restricted to the training sample.
    */
  private def qualityFeatureSql(name: String, where: String): String =
    s"""$name AS (
       |  SELECT doc_id, CAST(4 AS BIGINT) AS x0,
       |    least(len(w), 32) - 16 AS x1,
       |    least(len(w), 256) // 8 - 16 AS x2,
       |    (32 * len(list_filter(w, qs -> qs IN ($stopList)))) // greatest(len(w), 1) - 8 AS x3,
       |    (32 * len(list_distinct(w))) // greatest(len(w), 1) - 16 AS x4,
       |    CASE WHEN len(w) >= 20 AND len(w) <= 200
       |          AND 10 * len(list_filter(w, qs -> qs IN ($stopList))) <= 3 * len(w)
       |          AND 10 * len(list_distinct(w)) >= len(w)
       |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents $where))""".stripMargin

  /** The UNROLLED gradient-descent CTE chain (the unrolled-Lloyd oracle
    * discipline on the trained quality classifier): `ft` is the
    * training feature frame (optionally sample-restricted), `f` the
    * full-corpus one the scoring tail reads; per round i, `g_i` sums
    * the five gradient components and the Σ|r| curve metric from
    * `ft` × the previous 1-row weight CTE, and `w_i` applies the
    * sign-safe truncating update w − sdiv(g, n·512).
    */
  private def qualityTrainChain(rounds: Int, trainWhere: String = ""): String = {
    def sdiv(g: String) =
      s"(CASE WHEN $g < 0 THEN -((-($g)) // (c.n * 512)) ELSE ($g) // (c.n * 512) END)"
    val pred = (0 to 4).map(j => s"w.w$j * ft.x$j").mkString(" + ")
    val roundCtes = (1 to rounds).map { i =>
      s"""|g$i AS (SELECT ${(0 to 4).map(j => s"CAST(sum(r * x$j) AS BIGINT) AS g$j").mkString(", ")},
          |          CAST(sum(abs(r)) AS BIGINT) AS sar
          |  FROM (SELECT $pred - ft.y * 33554432 AS r,
          |               ft.x0, ft.x1, ft.x2, ft.x3, ft.x4
          |        FROM ft CROSS JOIN w${i - 1} w)),
          |w$i AS (SELECT ${(0 to 4).map(j => s"w.w$j - ${sdiv(s"g.g$j")} AS w$j").mkString(", ")}
          |  FROM w${i - 1} w CROSS JOIN g$i g CROSS JOIN cnt c)""".stripMargin
    }.mkString(",\n")
    s"""${qualityFeatureSql("ft", trainWhere)},
       |${qualityFeatureSql("f", "")},
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ft),
       |w0 AS (SELECT ${(0 to 4).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")}),
       |$roundCtes""".stripMargin
  }

  /** The training face's tail: one row per round — the post-update
    * weights and that round's Σ|r| (computed with the pre-update
    * weights, exactly as the Spark loop reports it).
    */
  private def qualityTrainSelect(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""SELECT CAST($i AS INT) AS step, w.w0, w.w1, w.w2, w.w3, w.w4,
         |  g.sar AS sum_abs_resid FROM w$i w CROSS JOIN g$i g""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY step"

  /** The scoring face's tail: the final weights applied to every
    * document of the FULL corpus once.
    */
  private def qualityScoreSelect(rounds: Int): String = {
    val score = (0 to 4).map(j => s"w.w$j * f.x$j").mkString(" + ")
    s"""SELECT f.doc_id, $score AS score,
       |  2 * ($score) > 33554432 AS predicted_keep,
       |  f.y = 1 AS heuristic_keep,
       |  (2 * ($score) > 33554432) = (f.y = 1) AS agrees
       |FROM f CROSS JOIN w$rounds w ORDER BY f.doc_id""".stripMargin
  }

  /** The trained model's keep predicate as a doc_id subquery over a
    * feature CTE `from` — shared by the held-out eval (scores `fh`)
    * and the quality-mix composition (scores the full-corpus `f`).
    */
  private def qualityKeepSubquery(rounds: Int, from: String): String = {
    val score = (0 to 4).map(j => s"w.w$j * $from.x$j").mkString(" + ")
    s"SELECT $from.doc_id FROM $from CROSS JOIN w$rounds w WHERE 2 * ($score) > 33554432"
  }

  /** The sampled-train→full-encode oracle — ONE truth for the composed
    * face (`tx_bpe_train_sampled`, which pays the training loop
    * in-query) and the artifact-served face (`tx_bpe_encode_indexed`,
    * reading the persisted merge table): the unrolled training chain
    * over the 30% hash sample, then the eight merge rows applied to
    * every document as a cascade of literal replaces.
    */
  private lazy val bpeSampledEncodeSql: String = {
    val sampleWhere = s"WHERE ${OracleSnippets.charHash("text")} % 10 < 3"
    val applySteps = (1 to BpeTrainRounds).map { i =>
      s"""|f$i AS (SELECT doc_id, n_before,
          |  replace(s, '[' || tok_a || '][' || tok_b || ']',
          |             '[' || tok_a || tok_b || ']') AS s
          |  FROM f${i - 1} CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeTrainChain(BpeTrainRounds, sampleWhere)},
       |f0 AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS BIGINT)
       |           AS n_before,
       |         array_to_string(
       |           list_transform(regexp_extract_all(text, '${TextOps.BpePattern}'),
       |                          x -> '[' || x || ']'), '') AS s
       |  FROM documents),
       |$applySteps
       |SELECT doc_id, n_before,
       |  CAST(length(s) - length(replace(s, '[', '')) AS BIGINT) AS n_after,
       |  substr(s, 1, 60) AS head
       |FROM f$BpeTrainRounds ORDER BY doc_id""".stripMargin
  }

  /** The sampled-train→full-score oracle — shared by
    * `tx_quality_train_sampled` (trains in-query) and
    * `tx_quality_scored_indexed` (reads the stored `_weights` row).
    */
  private lazy val qualitySampledScoreSql: String =
    s"""WITH ${qualityTrainChain(
        QualityTrainRounds,
        s"WHERE ${OracleSnippets.charHash("text")} % 10 < 3")}
       |${qualityScoreSelect(QualityTrainRounds)}""".stripMargin

  /** The dedup→model-filter→token-budget-mix oracle — ONE truth for the
    * in-query-derivation face (`tx_quality_mix`, the corpus-scan
    * reference) and the artifact-served face (`tx_quality_mix_indexed`,
    * reading the persisted `_clusters` + `_weights`): the recursive
    * cluster closure over the LSH pair derivation, the unrolled
    * sampled-training chain's round-8 weights as the keep predicate,
    * and the integer budget arithmetic.
    */
  private lazy val qualityMixSql: String =
    s"""WITH RECURSIVE
       |${qualityTrainChain(
        QualityTrainRounds,
        s"WHERE ${OracleSnippets.charHash("text")} % 10 < 3")},
       |p AS (SELECT doc_a, doc_b FROM (${DedupQueries.minhashPairsSql})),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |comp AS (SELECT n.id AS doc_id, least(n.id, min(r.v)) AS component
       |         FROM nodes n JOIN reach r ON r.u = n.id GROUP BY n.id),
       |tok AS (
       |  SELECT d.source, d.text,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |  WHERE (c.component IS NULL OR c.component = d.doc_id)
       |    AND d.doc_id IN (${qualityKeepSubquery(QualityTrainRounds, "f")})),
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
       |ORDER BY source""".stripMargin

  /** The held-out confusion tail: the model trained on the sample
    * (`ft`) applied to the DISJOINT held-out feature frame `fh`, rolled
    * into the (heuristic, predicted) confusion counts a deployment
    * gates promotion on.
    */
  private def qualityEvalSelect(rounds: Int): String = {
    val score = (0 to 4).map(j => s"w.w$j * fh.x$j").mkString(" + ")
    s"""SELECT heuristic_keep, predicted_keep, CAST(count(*) AS BIGINT) AS n_docs
       |FROM (SELECT fh.y = 1 AS heuristic_keep,
       |             2 * ($score) > 33554432 AS predicted_keep
       |      FROM fh CROSS JOIN w$rounds w)
       |GROUP BY heuristic_keep, predicted_keep
       |ORDER BY heuristic_keep, predicted_keep""".stripMargin
  }

  /** The full-corpus search index, a [[Tables.artifact]] every
    * read-path query shares — re-paying the corpus explode per consumer
    * would misrepresent exactly the cost profile the persisted index
    * exists to fix. The incremental query deliberately does NOT use
    * this: its build + append sequence is the thing under test.
    */
  private def fullSearchIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    Tables.artifact(s, "search", "full", d) { pre =>
      graft.operators.SearchIndexOps.writeIndex(documents(s, d), buckets = 8, prefix = pre)
    }

  /** The INCREMENTALLY-GROWN search index — the grownLshIndex
    * discipline on the postings family: seeded from the stored split
    * (doc_id % 5 ≠ 0) via [[graft.operators.SearchIndexOps.writeIndex]],
    * then the remaining fifth ingested through
    * [[graft.operators.SearchIndexOps.indexBatch]]'s ledgered
    * four-table append. The read face shares the FULL-CORPUS oracle,
    * so a drifted ingest (a lost postings append, a doubled df
    * partial, a doc-guard miss) hash-mismatches the from-scratch
    * truth — the end-to-end oracle check of what SearchIndexSpec's
    * crash-repair cases pin in isolation.
    */
  private def grownSearchIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    Tables.artifact(s, "search", "grown", d) { pre =>
      val docs = documents(s, d)
      graft.operators.SearchIndexOps.writeIndex(
        docs.filter(col("doc_id") % 5 =!= 0), buckets = 8, prefix = pre)
      graft.operators.SearchIndexOps.indexBatch(
        s, pre, docs.filter(col("doc_id") % 5 === 0))
    }

  /** The trained BPE merge table PERSISTED as an artifact — the 8-round
    * sampled-training merge rows (tx_bpe_train_sampled's recipe: the
    * iterative loop pays only the 30% hash sample), a shared
    * [[Tables.artifact]] so the recurring encode job
    * (`tx_bpe_encode_indexed`) reads stored merges instead of
    * retraining: at 100 TB a tokenizer trains once and encodes nightly.
    */
  private[graft] def bpeMergesTable(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): String =
    Tables.artifact(s, "text", "bpemerges", d) { t =>
      TextOps.bpeTrain(
        TextOps.hashSample(documents(s, d), buckets = 10, keep = 3),
        rounds = BpeTrainRounds)
        .write.mode("overwrite").saveAsTable(t)
    }

  /** The trained quality model PERSISTED as a 1-row `_weights` table —
    * the round-8 weight vector of the sampled training run
    * (tx_quality_train_sampled's recipe), a [[Tables.artifact]] beside
    * the other shared artifacts so serving compositions
    * (`tx_quality_mix_indexed`) read stored weights instead of
    * retraining in-query. Every other trained/derived structure in the
    * repo (LSH clusters, IVF/PQ codebooks, BPE merges, media
    * fingerprints, pagerank adjacency) already had an artifact; this
    * closes the last in-query re-derivation.
    */
  private[graft] def qualityWeightsTable(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): String =
    Tables.artifact(s, "text", "qweights", d) { t =>
      TextOps.qualityTrainedWeights(
        TextOps.hashSample(documents(s, d), buckets = 10, keep = 3),
        rounds = QualityTrainRounds)
        .write.mode("overwrite").saveAsTable(t)
    }

  /** Eagerly builds the shared full-corpus search index and the trained
    * quality-model weights for `d` (no-op when already built). Bench
    * calls this in its un-timed setup phase so the one-time build cost
    * cannot land inside the first indexed query's timed region
    * (first-iteration skew); queries themselves still build lazily when
    * run standalone (Verify, tests).
    */
  def prepareSharedArtifacts(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    fullSearchIndex(s, d)
    grownSearchIndex(s, d)
    qualityWeightsTable(s, d)
    bpeMergesTable(s, d)
    ()
  }

  /** Oracle of the conjunctive search — shared by tx_search_and (the
    * corpus-scan face) and tx_search_indexed (the persisted-index read
    * path): the two faces are the same semantics over different
    * postings sources, so they must hash-match the same SQL.
    */
  private val searchAndSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(w, t -> t IN ('dup', 'spark', 'window'))) AS BIGINT)
      |    AS total_tf
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |WHERE len(list_filter(w, t -> t = 'dup')) > 0
      |  AND len(list_filter(w, t -> t = 'spark')) > 0
      |  AND len(list_filter(w, t -> t = 'window')) > 0
      |ORDER BY doc_id""".stripMargin

  /** Oracle of the boolean MUST/MUST_NOT search — shared by
    * tx_search_not (corpus-scan face) and tx_search_not_indexed (the
    * persisted-index read path): same semantics, two postings sources,
    * one SQL.
    */
  private val searchNotSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(w, t -> t IN ('spark', 'window'))) AS BIGINT)
      |    AS total_tf
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |WHERE len(list_filter(w, t -> t = 'spark')) > 0
      |  AND len(list_filter(w, t -> t = 'window')) > 0
      |  AND len(list_filter(w, t -> t = 'slow')) = 0
      |ORDER BY doc_id""".stripMargin

  /** Oracle of the phrase search — shared by tx_search_phrase and
    * tx_search_indexed_phrase (same positional-join semantics over
    * corpus-derived vs stored postings).
    */
  private val searchPhraseSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |            generate_subscripts(string_split(text, ' '), 1) AS pos
      |          FROM documents)
      |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |WHERE a.tok = 'table' AND b.tok = 'table'
      |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin

  /** Oracle of the proximity search — shared by tx_search_near and
    * tx_search_near_indexed (same covering-anchor semantics over
    * corpus-derived vs stored postings): anchor position p covers the
    * query iff every term occurs in [p, p+slop]; a doc reports its
    * covering-anchor count and earliest covering anchor.
    */
  private val searchNearSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |            generate_subscripts(string_split(text, ' '), 1) AS pos
      |          FROM documents),
      |q AS (SELECT doc_id, tok, pos FROM t WHERE tok IN ('spark', 'window')),
      |cov AS (SELECT a.doc_id, a.pos AS apos, count(DISTINCT b.tok) AS k
      |        FROM q a JOIN q b
      |          ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos AND a.pos + 4
      |        GROUP BY a.doc_id, a.pos)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(min(apos) AS INTEGER) AS first_pos
      |FROM cov WHERE k = 2 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle of the BM25 search — shared by tx_search_bm25 (corpus
    * scan) and tx_search_bm25_indexed (served from the stored
    * postings/lexicon/docs/meta artifact). Mirrors
    * SearchOps.bm25From's operation order exactly: idf = N/df
    * (log-free, the tx_search_ranked discipline), norm = 1.0 − b +
    * b·dl/avgdl with avgdl = CAST(total_dl AS DOUBLE)/n, per-term
    * score = (idf · (tf·2.2)) / (tf + 1.2·norm), summed in fixed term
    * order — every step is the same IEEE operation in both engines.
    */
  private val searchBm25Sql: String = {
    def termScore(tf: String, df: String): String =
      s"""(CASE WHEN $tf > 0 THEN
         |  (CAST(n AS DOUBLE) / $df) * ($tf * 2.2)
         |    / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n)))
         |  ELSE 0.0 END)""".stripMargin
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |l AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
       |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total_dl FROM l),
       |t AS (SELECT doc_id,
       |        len(list_filter(w, x -> x = 'dup')) AS tf1,
       |        len(list_filter(w, x -> x = 'spark')) AS tf2,
       |        len(list_filter(w, x -> x = 'table')) AS tf3
       |      FROM w),
       |d AS (SELECT count(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
       |        count(CASE WHEN tf2 > 0 THEN 1 END) AS df2,
       |        count(CASE WHEN tf3 > 0 THEN 1 END) AS df3 FROM t),
       |s AS (SELECT t.doc_id,
       |        ${termScore("tf1", "df1")}
       |      + ${termScore("tf2", "df2")}
       |      + ${termScore("tf3", "df3")} AS score
       |      FROM t JOIN l ON l.doc_id = t.doc_id, st, d
       |      WHERE tf1 > 0 OR tf2 > 0 OR tf3 > 0)
       |SELECT rank, doc_id, score FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       |         doc_id, score
       |  FROM s)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  /** Oracle of the ranked TF-IDF search — shared by tx_search_ranked
    * and tx_search_incremental (index built on 4/5 of the corpus, the
    * rest appended: the grown index must answer exactly as a scan of
    * the full corpus).
    */
  private val searchRankedSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |t AS (SELECT doc_id,
      |        len(list_filter(w, x -> x = 'dup')) AS tf1,
      |        len(list_filter(w, x -> x = 'spark')) AS tf2,
      |        len(list_filter(w, x -> x = 'table')) AS tf3
      |      FROM w),
      |n AS (SELECT count(*) AS nd FROM w),
      |d AS (SELECT count(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
      |        count(CASE WHEN tf2 > 0 THEN 1 END) AS df2,
      |        count(CASE WHEN tf3 > 0 THEN 1 END) AS df3 FROM t),
      |s AS (SELECT doc_id,
      |        (CASE WHEN tf1 > 0 THEN CAST(tf1 AS DOUBLE) * nd / df1 ELSE 0.0 END)
      |      + (CASE WHEN tf2 > 0 THEN CAST(tf2 AS DOUBLE) * nd / df2 ELSE 0.0 END)
      |      + (CASE WHEN tf3 > 0 THEN CAST(tf3 AS DOUBLE) * nd / df3 ELSE 0.0 END)
      |          AS score
      |      FROM t, n, d WHERE tf1 > 0 OR tf2 > 0 OR tf3 > 0)
      |SELECT rank, doc_id, score FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
      |         doc_id, score
      |  FROM s)
      |WHERE rank <= 10 ORDER BY rank""".stripMargin

  val all: Seq[Q] = Seq(
    Q(
      "tx_token_stats",
      (s, d) => TextOps.tokenStats(documents(s, d)),
      Some(s"""SELECT doc_id, len(w) AS n_tokens,
              |  len(list_distinct(w)) AS n_distinct,
              |  len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS n_bpe_tokens,
              |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
              |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              |         list_transform(w, tkt -> CAST(length(tkt) AS BIGINT))),
              |       (tka, tkb) -> tka + tkb) AS DOUBLE) / len(w) AS mean_token_len
              |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
              |ORDER BY doc_id""".stripMargin),
    ),
    Q(
      "tx_quality",
      (s, d) => TextOps.qualityScore(documents(s, d)),
      Some(s"""SELECT doc_id, n_tokens, stop_ratio, ttr,
              |  (n_tokens >= 20 AND n_tokens <= 200 AND stop_ratio <= 0.3 AND ttr >= 0.1) AS keep
              |FROM (
              |  SELECT doc_id, len(w) AS n_tokens,
              |    CAST(len(list_filter(w, qt -> qt IN ($stopList))) AS DOUBLE) / len(w) AS stop_ratio,
              |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
              |ORDER BY doc_id""".stripMargin),
    ),
    Q(
      "tx_lang_id",
      (s, d) => TextOps.langId(documents(s, d)),
      Some {
        val scores = TextOps.LangMarkers
          .map { case (lang, set) =>
            val inList = set.map(m => s"'$m'").mkString(", ")
            s"len(list_filter(w, lt -> lt IN ($inList))) AS score_$lang"
          }
          .mkString(",\n    ")
        val best = TextOps.LangMarkers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
        val caseChain = TextOps.LangMarkers.init
          .map { case (l, _) => s"WHEN score_$l = $best THEN '$l'" }
          .mkString(" ")
        s"""SELECT doc_id, ${TextOps.LangMarkers.map { case (l, _) => s"score_$l" }.mkString(", ")},
           |  CASE $caseChain ELSE '${TextOps.LangMarkers.last._1}' END AS predicted,
           |  lang,
           |  (CASE $caseChain ELSE '${TextOps.LangMarkers.last._1}' END) = lang AS agrees
           |FROM (
           |  SELECT doc_id, lang,
           |    $scores
           |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents))
           |ORDER BY doc_id""".stripMargin
      },
    ),
    Q(
      "tx_top_ngrams",
      (s, d) => TextOps.topNgrams(documents(s, d), n = 2, k = 5),
      Some("""SELECT lang, ngram, cnt, rank FROM (
             |  SELECT lang, ngram, cnt,
             |    CAST(row_number() OVER (PARTITION BY lang
             |           ORDER BY cnt DESC, ngram) AS INT) AS rank
             |  FROM (
             |    SELECT lang, ngram, CAST(count(*) AS BIGINT) AS cnt FROM (
             |      SELECT lang, unnest(list_transform(
             |               generate_series(1, greatest(len(w)-1, 1)),
             |               ni -> array_to_string(w[ni:ni+1], ' '))) AS ngram
             |      FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
             |    GROUP BY lang, ngram))
             |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),
    ),
    // Deterministic 30% corpus sample (hash-bucket membership), with
    // per-language counts proving the mix is reproducible.
    Q(
      "tx_hash_sample",
      (s, d) => {
        import org.apache.spark.sql.functions._
        TextOps.hashSample(documents(s, d), buckets = 10, keep = 3)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, count(*) AS n_sampled
              |FROM documents
              |WHERE ${OracleSnippets.charHash("text")} % 10 < 3
              |GROUP BY lang ORDER BY lang""".stripMargin),
    ),
    // Corpus mixing: per-language keep rates over deterministic hash
    // buckets (upsampled en, downsampled the rest), counts per stratum
    // proving the mix is reproducible.
    Q(
      "tx_stratified_sample",
      (s, d) => {
        import org.apache.spark.sql.functions._
        TextOps
          .stratifiedHashSample(
            documents(s, d),
            col("lang"),
            buckets = 10,
            rates = Seq("en" -> 6, "de" -> 3, "es" -> 2, "fr" -> 2, "zh" -> 1),
          )
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, count(*) AS n_sampled
              |FROM documents
              |WHERE ${OracleSnippets.charHash("text")} % 10 <
              |  CASE WHEN lang = 'en' THEN 6 WHEN lang = 'de' THEN 3
              |       WHEN lang = 'es' THEN 2 WHEN lang = 'fr' THEN 2
              |       WHEN lang = 'zh' THEN 1 ELSE 0 END
              |GROUP BY lang ORDER BY lang""".stripMargin),
    ),
    // Deterministic WEIGHTED sampling: per-source top-5 by the
    // hash-priority u/w rule (w = n_chars) — reproducible
    // weight-biased selection with no RNG state; priority is one IEEE
    // division of two exact integers, so doubles and tie order match
    // the oracle bit-for-bit.
    Q(
      "tx_weighted_sample",
      (s, d) => TextOps.weightedSample(documents(s, d), k = 5),
      Some(s"""WITH t AS (
              |  SELECT source, doc_id,
              |         CAST(${OracleSnippets.indexedHash("0", "doc_id")} AS DOUBLE)
              |           / CAST(n_chars AS DOUBLE) AS priority
              |  FROM documents),
              |r AS (SELECT source, doc_id, priority,
              |        row_number() OVER (PARTITION BY source
              |                           ORDER BY priority, doc_id) AS rn
              |      FROM t)
              |SELECT source, doc_id, priority FROM r WHERE rn <= 5
              |ORDER BY source, priority, doc_id""".stripMargin),
    ),
    // Lang × source independence table: per cell the observed count,
    // the independence expectation E = rowTotal·colTotal/total (one
    // exact-integer product, one division), and its chi-square
    // contribution (O−E)²/E — per-CELL rows, deliberately no global
    // chi-square sum (a double sum over cells would be
    // accumulation-order dependent; the per-cell doubles are
    // deterministic scalar chains both engines reproduce bit-for-bit).
    Q(
      "tx_lang_source_expected",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val o = documents(s, d).groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_obs"))
        val rl = o.groupBy(col("lang")).agg(sum(col("n_obs")).as("row_total"))
        val cs = o.groupBy(col("source")).agg(sum(col("n_obs")).as("col_total"))
        val tot = o.agg(sum(col("n_obs")).as("total"))
        val e = (col("row_total") * col("col_total")).cast("double") / col("total").cast("double")
        o.join(broadcast(rl), "lang")
          .join(broadcast(cs), "source")
          .crossJoin(broadcast(tot))
          .select(
            col("lang"),
            col("source"),
            col("n_obs"),
            e.as("expected"),
            ((col("n_obs") - e) * (col("n_obs") - e) / e).as("chi2_contrib"),
          )
          .orderBy("lang", "source")
      },
      Some("""WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_obs
             |          FROM documents GROUP BY lang, source),
             |rl AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS row_total FROM o GROUP BY lang),
             |cs AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS col_total FROM o GROUP BY source),
             |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS total FROM o)
             |SELECT o.lang, o.source, o.n_obs,
             |  CAST(row_total * col_total AS DOUBLE) / CAST(total AS DOUBLE) AS expected,
             |  (o.n_obs - CAST(row_total * col_total AS DOUBLE) / CAST(total AS DOUBLE))
             |    * (o.n_obs - CAST(row_total * col_total AS DOUBLE) / CAST(total AS DOUBLE))
             |    / (CAST(row_total * col_total AS DOUBLE) / CAST(total AS DOUBLE)) AS chi2_contrib
             |FROM o JOIN rl ON rl.lang = o.lang JOIN cs ON cs.source = o.source
             |CROSS JOIN tot
             |ORDER BY o.lang, o.source""".stripMargin),
    ),
    // Per-source length profile with EXACT selection percentiles
    // (lower median, ceil(0.9n)-th order statistic) — the corpus-card
    // distribution snapshot; selection, not interpolation, so the
    // values are data both engines agree on.
    Q(
      "tx_len_percentiles",
      (s, d) => TextOps.lengthPercentiles(documents(s, d)),
      Some("""WITH t AS (SELECT source, doc_id,
             |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |          FROM documents),
             |r AS (SELECT source, n_tok,
             |        row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
             |        count(*) OVER (PARTITION BY source) AS n
             |      FROM t)
             |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS n_tokens, min(n_tok) AS min_tok,
             |  max(CASE WHEN rn = floor((n+1)/2) THEN n_tok END) AS p50_tok,
             |  max(CASE WHEN rn = floor((n*9+9)/10) THEN n_tok END) AS p90_tok,
             |  max(n_tok) AS max_tok
             |FROM r GROUP BY source ORDER BY source""".stripMargin),
    ),
    // Rejection-reason breakdown of the quality filter: each document
    // charged to the FIRST failing rule in a fixed order, so reasons
    // partition the corpus (counts sum to the row count) and the
    // breakdown shares its rule expressions with the keep predicate.
    Q(
      "tx_reject_reasons",
      (s, d) => TextOps.rejectReasons(documents(s, d)),
      Some(s"""WITH t AS (
              |  SELECT len(w) AS n_tok,
              |    CAST(len(list_filter(w, rr -> rr IN ($stopList))) AS DOUBLE) / len(w)
              |      AS stop_ratio,
              |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr
              |  FROM (SELECT string_split(text, ' ') AS w FROM documents)),
              |r AS (SELECT n_tok,
              |        CASE WHEN n_tok < 20 THEN 'too_short'
              |             WHEN n_tok > 200 THEN 'too_long'
              |             WHEN stop_ratio > 0.3 THEN 'stop_ratio'
              |             WHEN ttr < 0.1 THEN 'ttr'
              |             ELSE 'kept' END AS reason
              |      FROM t)
              |SELECT reason, count(*) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
              |FROM r GROUP BY reason ORDER BY reason""".stripMargin),
    ),
    // Filter-ablation OVERLAP: every rule COMBINATION (Venn cell) with
    // doc/token counts — tx_reject_reasons charges a doc to its first
    // failing rule, this shows which rules reject uniquely and which
    // are redundant. Mask 0 = kept; same rule expressions as the keep
    // predicate.
    Q(
      "tx_reject_overlap",
      (s, d) => TextOps.rejectOverlap(documents(s, d)),
      Some(s"""WITH t AS (
              |  SELECT len(w) AS n_tok,
              |    CAST(len(list_filter(w, rr -> rr IN ($stopList))) AS DOUBLE) / len(w)
              |      AS stop_ratio,
              |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr
              |  FROM (SELECT string_split(text, ' ') AS w FROM documents)),
              |m AS (SELECT CAST(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END
              |        + CASE WHEN n_tok > 200 THEN 2 ELSE 0 END
              |        + CASE WHEN stop_ratio > 0.3 THEN 4 ELSE 0 END
              |        + CASE WHEN ttr < 0.1 THEN 8 ELSE 0 END AS BIGINT) AS mask,
              |        n_tok
              |      FROM t)
              |SELECT mask, (mask & 1) > 0 AS too_short, (mask & 2) > 0 AS too_long,
              |  (mask & 4) > 0 AS stop_ratio, (mask & 8) > 0 AS ttr,
              |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
              |FROM m GROUP BY mask ORDER BY mask""".stripMargin),
    ),
    Q(
      "tx_curation_pipeline",
      (s, d) => TextOps.curationPipeline(documents(s, d)),
      Some(s"""WITH scored AS (
              |  SELECT doc_id, text, lang, len(w) AS n_tokens,
              |    CAST(len(list_filter(w, cq -> cq IN ($stopList))) AS DOUBLE) / len(w) AS stop_ratio,
              |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr
              |  FROM (SELECT doc_id, text, lang, string_split(text, ' ') AS w FROM documents)),
              |kept AS (
              |  SELECT * FROM scored
              |  WHERE n_tokens >= 20 AND n_tokens <= 200 AND stop_ratio <= 0.3 AND ttr >= 0.1),
              |deduped AS (
              |  SELECT min(doc_id) AS doc_id, min_by(lang, doc_id) AS lang,
              |         min_by(n_tokens, doc_id) AS n_tokens
              |  FROM kept GROUP BY text)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
              |FROM deduped GROUP BY lang ORDER BY lang""".stripMargin),
    ),
    Q(
      "tx_winnow",
      (s, d) => TextOps.winnow(documents(s, d), k = 3, w = 4),
      Some(s"""WITH hs AS (
              |  SELECT doc_id, ${OracleSnippets.shingleHashesOrdered("string_split(text, ' ')", 3)} AS hs
              |  FROM documents)
              |SELECT doc_id,
              |  unnest(list_distinct(list_transform(
              |    generate_series(1, greatest(len(hs)-3, 1)),
              |    wni -> list_min(hs[wni:wni+3])))) AS fingerprint
              |FROM hs ORDER BY doc_id, fingerprint""".stripMargin),
    ),
    // Corpus-QA confusion matrix: recorded label × predicted language,
    // with counts — the aggregate view of tx_lang_id (same deterministic
    // scoring; one partial+final count shuffle over a 25-cell key space
    // at any corpus size).
    Q(
      "tx_lang_confusion",
      (s, d) => {
        import org.apache.spark.sql.functions._
        TextOps.langId(documents(s, d))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted")
      },
      Some {
        val scores = TextOps.LangMarkers
          .map { case (lang, set) =>
            val inList = set.map(m => s"'$m'").mkString(", ")
            s"len(list_filter(w, lcf -> lcf IN ($inList))) AS score_$lang"
          }
          .mkString(",\n    ")
        val best = TextOps.LangMarkers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
        val caseChain = TextOps.LangMarkers.init
          .map { case (l, _) => s"WHEN score_$l = $best THEN '$l'" }
          .mkString(" ")
        s"""SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n FROM (
           |  SELECT lang,
           |    CASE $caseChain ELSE '${TextOps.LangMarkers.last._1}' END AS predicted
           |  FROM (
           |    SELECT lang, $scores
           |    FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)))
           |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
      },
    ),
    // Gopher-rule repetition signals: linear explode+agg (not the
    // O(len²) per-row HOF), so book-length documents cost O(len).
    Q(
      "tx_repetition",
      (s, d) => TextOps.repetition(documents(s, d)),
      Some("""WITH wc AS (
             |  SELECT doc_id, w, count(*) AS cnt
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |  GROUP BY doc_id, w),
             |ws AS (
             |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             |    CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(cnt) AS BIGINT) AS top_cnt
             |  FROM wc GROUP BY doc_id),
             |gc AS (
             |  SELECT doc_id, g, count(*) AS cnt FROM (
             |    SELECT doc_id, unnest(list_transform(
             |             generate_series(1, greatest(len(sw)-1, 1)),
             |             gi -> array_to_string(sw[gi:gi+1], ' '))) AS g
             |    FROM (SELECT doc_id, string_split(text, ' ') AS sw FROM documents))
             |  GROUP BY doc_id, g),
             |gs AS (
             |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
             |    CAST(max(cnt) AS BIGINT) AS top_bigram_cnt
             |  FROM gc GROUP BY doc_id)
             |SELECT ws.doc_id AS doc_id, n_tokens,
             |  CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_word_ratio,
             |  CAST(top_cnt AS DOUBLE) / n_tokens AS top_word_ratio,
             |  CAST(top_bigram_cnt AS DOUBLE) / n_bigrams AS top_bigram_ratio,
             |  (CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens > 0.9
             |    OR CAST(top_cnt AS DOUBLE) / n_tokens > 0.2
             |    OR CAST(top_bigram_cnt AS DOUBLE) / n_bigrams > 0.18) AS repetitive
             |FROM ws JOIN gs ON ws.doc_id = gs.doc_id
             |ORDER BY ws.doc_id""".stripMargin),
    ),
    // PII scrubbing over a deterministic injection (the corpus itself is
    // PII-free, so the query plants one email, one dotted-quad, and one
    // 9-digit run per document — both engines build the identical string,
    // so the oracle exercises the regex semantics, not a no-op).
    Q(
      "tx_pii_scrub",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val injected = concat(
          col("text"),
          lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@example.com via 10."),
          pmod(col("doc_id"), lit(200L)).cast("string"),
          lit(".0.1 ref "),
          lpad(col("doc_id").cast("string"), 9, "0"),
        )
        TextOps.piiScrub(documents(s, d), injected).orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  CAST(len(regexp_extract_all(t, '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
              |  CAST(len(regexp_extract_all(t1, '${TextOps.Ipv4Pattern}')) AS BIGINT) AS n_ips,
              |  CAST(len(regexp_extract_all(t2, '${TextOps.LongNumPattern}')) AS BIGINT) AS n_longnums,
              |  regexp_replace(t2, '${TextOps.LongNumPattern}', '<NUM>', 'g') AS scrubbed
              |FROM (
              |  SELECT doc_id, t,
              |    regexp_replace(t, '${TextOps.EmailPattern}', '<EMAIL>', 'g') AS t1,
              |    regexp_replace(regexp_replace(t, '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
              |                   '${TextOps.Ipv4Pattern}', '<IP>', 'g') AS t2
              |  FROM (
              |  SELECT doc_id,
              |    text || ' contact user' || CAST(doc_id AS VARCHAR)
              |         || '@example.com via 10.' || CAST(doc_id % 200 AS VARCHAR)
              |         || '.0.1 ref ' || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS t
              |  FROM documents))
              |ORDER BY doc_id""".stripMargin),
    ),
    // Context-window chunking: 120-char windows every 90 chars (30-char
    // overlap) — the embedding/training prep step. Row-local explode;
    // chunk ids replay identically under any partitioning.
    Q(
      "tx_chunk",
      (s, d) => TextOps.chunk(documents(s, d), width = 120, stride = 90),
      Some("""SELECT doc_id, CAST(s AS BIGINT) AS chunk_id,
             |  CAST(s*90 AS BIGINT) AS chunk_start,
             |  substr(text, CAST(s*90+1 AS INT), 120) AS chunk_text,
             |  CAST(len(substr(text, CAST(s*90+1 AS INT), 120)) AS BIGINT) AS n_chunk_chars
             |FROM (SELECT doc_id, text,
             |        unnest(generate_series(0, greatest((len(text)-1)//90, 0))) AS s
             |      FROM documents)
             |ORDER BY doc_id, chunk_id""".stripMargin),
    ),
    // Token-budget corpus mixing: cap each source at a token budget via
    // hash sampling with an integer-quantized keep rate — the whole mix
    // is exact integer arithmetic, so it replays identically anywhere.
    Q(
      "tx_mix_budget",
      (s, d) => TextOps.mixByTokenBudget(documents(s, d), perSourceBudget = 500L, buckets = 10),
      Some(s"""WITH tok AS (
              |  SELECT source, text,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              |  FROM documents),
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
    // Temperature-based mixing (α = 1/2): source shares ∝ √total_tokens
    // (up-samples small sources — the multilingual-LLM rule), a global
    // 2000-token budget split by share, applied as quantized hash
    // sampling. √ is IEEE-exact (α pinned to 1/2 for portability; ln/pow
    // are not), and the share denominator is an ordered fold over
    // sources, so every share double hash-matches.
    Q(
      "tx_mix_temperature",
      (s, d) => TextOps.mixByTemperature(documents(s, d), budgetTokens = 2000L, buckets = 10),
      Some(s"""WITH tok AS (
              |  SELECT source, text,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              |  FROM documents),
              |tot AS (
              |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              |    sqrt(CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE)) AS weight
              |  FROM tok GROUP BY source),
              |ws AS (SELECT list_reduce(list_prepend(0.0, list(weight ORDER BY source)),
              |                          (wa, wb) -> wa + wb) AS wsum FROM tot),
              |rated AS (
              |  SELECT source, total_tokens, weight / wsum AS share,
              |    CAST(least(CAST(10 AS DOUBLE),
              |      floor(2000.0 * (weight / wsum) * 10.0 / CAST(total_tokens AS DOUBLE)))
              |      AS BIGINT) AS keep_buckets
              |  FROM tot CROSS JOIN ws),
              |kept AS (
              |  SELECT t.source, count(*) AS n_docs_kept,
              |    CAST(sum(t.n_tok) AS BIGINT) AS tokens_kept
              |  FROM tok t JOIN rated r ON t.source = r.source
              |  WHERE ${OracleSnippets.charHash("t.text")} % 10 < r.keep_buckets
              |  GROUP BY t.source)
              |SELECT r.source AS source, total_tokens, share, keep_buckets,
              |  coalesce(n_docs_kept, 0) AS n_docs_kept,
              |  coalesce(tokens_kept, CAST(0 AS BIGINT)) AS tokens_kept
              |FROM rated r LEFT JOIN kept k ON r.source = k.source
              |ORDER BY source""".stripMargin),
    ),
    // Quality-aware mixing plan: keep the best HALF of each source's
    // tokens by quality — per (source, quality bin) token inventory,
    // budget = total DIV 2 filled from the best bin downward, boundary
    // bin partial, lower bins zero. Pure integer arithmetic after the
    // broadcast-quantile bin assignment; two windows over the tiny
    // (source × 4 bins) frame share one exchange.
    Q(
      "tx_mix_quality",
      (s, d) => TextOps.mixByQuality(documents(s, d), num = 1L, den = 2L),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS score
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             |b AS (SELECT quantile_cont(score, 0.25) AS p25,
             |             quantile_cont(score, 0.50) AS p50,
             |             quantile_cont(score, 0.75) AS p75 FROM s),
             |qb AS (SELECT doc_id,
             |  1 + CASE WHEN score > p25 THEN 1 ELSE 0 END
             |    + CASE WHEN score > p50 THEN 1 ELSE 0 END
             |    + CASE WHEN score > p75 THEN 1 ELSE 0 END AS bin
             |  FROM s CROSS JOIN b),
             |tok AS (SELECT doc_id, source,
             |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |        FROM documents),
             |g AS (SELECT t.source, q.bin, CAST(count(*) AS BIGINT) AS n_docs,
             |        CAST(sum(t.n_tok) AS BIGINT) AS tokens_avail
             |      FROM tok t JOIN qb q ON q.doc_id = t.doc_id
             |      GROUP BY t.source, q.bin),
             |c AS (SELECT source, bin, n_docs, tokens_avail,
             |        CAST(sum(tokens_avail) OVER (PARTITION BY source) AS BIGINT)
             |          * 1 // 2 AS budget,
             |        CAST(coalesce(sum(tokens_avail) OVER (
             |            PARTITION BY source ORDER BY bin DESC
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          AS BIGINT) AS cum_before
             |      FROM g)
             |SELECT source, bin, n_docs, tokens_avail,
             |  CAST(CASE WHEN cum_before >= budget THEN 0
             |            WHEN cum_before + tokens_avail <= budget THEN tokens_avail
             |            ELSE budget - cum_before END AS BIGINT) AS tokens_taken
             |FROM c ORDER BY source, bin""".stripMargin),
    ),
    // Decontamination: corpus docs sharing any word 3-gram with the
    // benchmark subset (doc_id % 50 = 0 stands in for an eval suite).
    // The benchmark shingle set is broadcast; the corpus never shuffles.
    Q(
      "tx_contamination",
      (s, d) => TextOps.contamination(documents(s, d), col("doc_id") % 50 === 0, n = 3),
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest(${OracleSnippets.shingleHashes("w")}) AS h
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
              |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
              |hits AS (
              |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
              |  FROM sh s JOIN bench b ON s.h = b.h
              |  WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id)
              |SELECT d.doc_id, coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits,
              |  coalesce(n_hits, 0) > 0 AS contaminated
              |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
              |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin),
    ),
    // Heaps-law vocabulary growth: per-doc new-term contribution and
    // running token/vocab totals in doc_id order. Exact integers
    // throughout.
    Q(
      "tx_vocab_growth",
      (s, d) => TextOps.vocabGrowth(documents(s, d)),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |fs AS (SELECT min(doc_id) AS doc_id FROM tok GROUP BY term),
             |nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_terms
             |       FROM fs GROUP BY doc_id),
             |pd AS (SELECT doc_id,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |       FROM documents)
             |SELECT pd.doc_id, n_tok,
             |  coalesce(new_terms, 0) AS new_terms,
             |  CAST(sum(n_tok) OVER w AS BIGINT) AS tokens_cum,
             |  CAST(sum(coalesce(new_terms, 0)) OVER w AS BIGINT) AS vocab_cum
             |FROM pd LEFT JOIN nw ON pd.doc_id = nw.doc_id
             |WINDOW w AS (ORDER BY pd.doc_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY pd.doc_id""".stripMargin),
    ),
    // Top-3 TF-IDF terms per document: IDF as the exact N/df ratio (no
    // log — bit-reproducible), rank ties broken by term. Spark
    // row_number is INT; the oracle casts to match.
    Q(
      "tx_tfidf",
      (s, d) => TextOps.tfidfTopK(documents(s, d), k = 3),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             |    CAST(tf.tf AS DOUBLE)
             |      * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS score
             |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
             |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             |       score, rank
             |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             |        ORDER BY score DESC, term) AS INT) AS rank
             |      FROM scored)
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    ),
    // Cross-document sequence packing: per-language concat-then-split
    // at a 256-token budget — the context-window-filling step between
    // curation and training. Pack boundaries are pure integer running
    // sums (Spark `div` ↔ DuckDB `//`), so the layout replays exactly.
    Q(
      "tx_pack",
      (s, d) => TextOps.packSequences(documents(s, d), budget = 256L),
      Some("""WITH tok AS (
             |  SELECT lang, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |laid AS (
             |  SELECT lang, doc_id, n_tok,
             |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT)
             |      AS cum_before
             |  FROM tok)
             |SELECT lang, cum_before // 256 AS pack_id,
             |  count(*) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS tokens,
             |  min(doc_id) AS first_doc,
             |  max(doc_id) AS last_doc
             |FROM laid GROUP BY lang, cum_before // 256
             |ORDER BY lang, pack_id""".stripMargin),
    ),
    Q(
      "tx_fingerprint",
      (s, d) => TextOps.fingerprints(documents(s, d)),
      Some(s"""SELECT doc_id,
              |  ${OracleSnippets.charHash("text")} AS rolling_hash,
              |  sha256(text) AS sha256,
              |  md5(text) AS md5
              |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    // Dataset-card rollup: corpus composition at every reporting grain —
    // (source, lang), per source, per lang, and the grand total — in one
    // GROUPING SETS pass (one Expand, one aggregation; no N separate
    // scans). The shape every training-data pipeline publishes next to
    // a corpus release.
    Q(
      "tx_corpus_report",
      (s, d) => {
        documents(s, d).createOrReplaceTempView("documents_cr")
        s.sql("""SELECT source, lang,
                |  count(*) AS n_docs,
                |  CAST(sum(size(split(text, ' '))) AS BIGINT) AS total_tokens,
                |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
                |  CAST(sum(size(split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
                |FROM documents_cr
                |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
                |ORDER BY source, lang""".stripMargin)
      },
      Some("""SELECT source, lang,
             |  count(*) AS n_docs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
             |FROM documents
             |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
             |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin),
    ),
    // One BPE-training merge step: the 20 most frequent adjacent token
    // pairs (the next vocabulary merges). Position-sensitive pair counts
    // from zipping the token stream with its own tail; ties broken by
    // the pair itself, so the top-k boundary is deterministic.
    Q(
      "tx_bpe_merge",
      (s, d) => TextOps.bpeMergeStep(documents(s, d), k = 20),
      Some(s"""WITH t AS (SELECT doc_id,
              |            regexp_extract_all(text, '${TextOps.BpePattern}') AS tk
              |          FROM documents),
              |i AS (SELECT tk, unnest(generate_series(1, len(tk)-1)) AS bi FROM t),
              |p AS (SELECT tk[bi] AS tok_a, tk[bi+1] AS tok_b FROM i)
              |SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS pair_count
              |FROM p GROUP BY tok_a, tok_b
              |ORDER BY pair_count DESC, tok_a, tok_b LIMIT 20""".stripMargin),
    ),
    // BPE ENCODE: apply the 20 trained merges (tx_bpe_merge's output,
    // collected as vocabulary metadata — a 20-row aggregate folded into
    // the plan as literals, the broadcast-scale move, not a driver loop
    // over data) to every document in training-rank order. The oracle
    // replays the identical bracket-serialized replace chain via a
    // recursive CTE stepping through the ranked merges.
    Q(
      "tx_bpe_encode",
      (s, d) => {
        val merges = TextOps
          .bpeMergeStep(documents(s, d), k = 20)
          .collect()
          .toSeq
          .map(r => (r.getString(0), r.getString(1)))
        TextOps.bpeEncode(documents(s, d), merges)
      },
      Some(s"""WITH RECURSIVE t AS (
              |  SELECT doc_id, regexp_extract_all(text, '${TextOps.BpePattern}') AS tk
              |  FROM documents),
              |m AS (
              |  SELECT tok_a, tok_b,
              |         row_number() OVER (ORDER BY pair_count DESC, tok_a, tok_b) AS rnk
              |  FROM (
              |    SELECT tk[bi] AS tok_a, tk[bi+1] AS tok_b, count(*) AS pair_count
              |    FROM (SELECT tk, unnest(generate_series(1, len(tk)-1)) AS bi FROM t)
              |    GROUP BY tok_a, tok_b
              |    ORDER BY pair_count DESC, tok_a, tok_b LIMIT 20)),
              |base AS (
              |  SELECT doc_id, len(tk) AS n_before,
              |         array_to_string(list_transform(tk, bex -> '[' || bex || ']'), '') AS s
              |  FROM t),
              |r AS (
              |  SELECT doc_id, n_before, 0 AS step, s FROM base
              |  UNION ALL
              |  SELECT r.doc_id, r.n_before, r.step + 1,
              |         replace(r.s, '[' || m.tok_a || '][' || m.tok_b || ']',
              |                      '[' || m.tok_a || m.tok_b || ']')
              |  FROM r JOIN m ON m.rnk = r.step + 1)
              |SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
              |       CAST(length(s) - length(replace(s, '[', '')) AS BIGINT) AS n_after,
              |       substr(s, 1, 60) AS head
              |FROM r WHERE step = 20 ORDER BY doc_id""".stripMargin),
    ),
    // Multi-step BPE vocabulary TRAINING: 8 rounds of count→fuse→recount
    // over the re-encoded stream (TextOps.bpeTrain) — later rounds see
    // the tokens earlier rounds created, which the single-step
    // tx_bpe_merge cannot express. The oracle replays the identical loop
    // as an UNROLLED CTE chain (the unrolled-Lloyd discipline): per
    // round, re-tokenize the bracket serialization, take the argmax pair
    // under the same (count DESC, tok_a, tok_b) tie-break, apply the one
    // literal replace corpus-wide, and report the post-merge corpus
    // token count — so a drifted merge choice OR a wrong re-encode in
    // ANY round hash-mismatches.
    Q(
      "tx_bpe_train",
      (s, d) => TextOps.bpeTrain(documents(s, d), rounds = 8),
      Some {
        val steps = (1 to BpeTrainRounds).map { i =>
          s"""SELECT $i AS step, tok_a, tok_b, pair_count,
             |  (SELECT n_tokens_after FROM n$i) AS n_tokens_after FROM m$i""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${bpeTrainChain(BpeTrainRounds)}
           |SELECT * FROM (
           |$steps
           |) ORDER BY step""".stripMargin
      },
    ),
    // The composed TOKENIZER: train the 8-round vocabulary, then ENCODE
    // the corpus with the trained (cascaded) merge table — the full
    // train→apply loop a production tokenizer build runs, as one
    // operator face. Differs from tx_bpe_encode, whose merges are the
    // single-step top-20 counts: the trained table's later merges fuse
    // tokens earlier merges created. The oracle replays the unrolled
    // training chain and reads the round-8 encoded stream directly, so
    // training AND application are both hash-pinned per document.
    Q(
      "tx_bpe_train_encode",
      (s, d) => {
        val merges = TextOps.bpeTrain(documents(s, d), rounds = BpeTrainRounds)
          .collect().toSeq
          .map(r => (r.getString(1), r.getString(2)))
        TextOps.bpeEncode(documents(s, d), merges)
      },
      Some(s"""WITH ${bpeTrainChain(BpeTrainRounds)}
              |SELECT doc_id, n_before,
              |  CAST(length(s) - length(replace(s, '[', '')) AS BIGINT) AS n_after,
              |  substr(s, 1, 60) AS head
              |FROM e$BpeTrainRounds ORDER BY doc_id""".stripMargin),
    ),
    // The 100 TB training SHAPE: train the merge table on a
    // deterministic 30% hash sample (tx_hash_sample's bucket rule —
    // reproducible, no RNG state), then encode the FULL corpus once
    // with the trained cascade. tx_bpe_train's eight full-corpus
    // rewrites are the exact reference; a production tokenizer build
    // pays the iterative loop only on the sample (a constant fraction
    // of the corpus — here 30%, at real scale a fixed-size slice) and
    // touches the full corpus exactly once, at apply time. The oracle
    // replays the unrolled training chain over the SAMPLED side (the
    // same WHERE the Spark sample states) and applies the eight merge
    // rows to every document as a cascade of literal replaces — so a
    // drifted sample boundary, merge choice, or application order all
    // hash-mismatch.
    Q(
      "tx_bpe_train_sampled",
      (s, d) => {
        val merges = TextOps
          .bpeTrain(TextOps.hashSample(documents(s, d), buckets = 10, keep = 3), rounds = BpeTrainRounds)
          .collect().toSeq
          .map(r => (r.getString(1), r.getString(2)))
        TextOps.bpeEncode(documents(s, d), merges)
      },
      Some(bpeSampledEncodeSql),
    ),
    // The recurring encode job SERVED FROM THE ARTIFACT — what a
    // nightly tokenization run actually pays once the merge table is
    // persisted: read the stored 8-row cascade (a bounded-metadata
    // collect, the tx_bpe_encode pattern) and encode the corpus in one
    // pass — no training rounds in the timed query. Same oracle as the
    // composed twin above; TextOpsSpec pins them bit-equal.
    Q(
      "tx_bpe_encode_indexed",
      (s, d) => {
        val merges = s.table(bpeMergesTable(s, d))
          .orderBy("step")
          .collect().toSeq
          .map(r => (r.getString(1), r.getString(2)))
        TextOps.bpeEncode(documents(s, d), merges)
      },
      Some(bpeSampledEncodeSql),
    ),
    // The TRAINED quality classifier's training face: eight fixed-point
    // batch-gradient rounds over the integer quality features (the
    // BPE/unrolled-Lloyd discipline on the third trained-artifact
    // family — TextOps doc states the exact-arithmetic contract). The
    // oracle replays every round as an unrolled CTE chain — gradient
    // sums from the feature CTE × the previous round's 1-row weight
    // CTE, the sign-safe truncating update — so a drifted feature
    // quantization, residual, or division anywhere in 8 rounds
    // hash-mismatches.
    Q(
      "tx_quality_train",
      (s, d) => TextOps.qualityTrain(documents(s, d), rounds = QualityTrainRounds),
      Some(s"""WITH ${qualityTrainChain(QualityTrainRounds)}
              |${qualityTrainSelect(QualityTrainRounds)}""".stripMargin),
    ),
    // The scoring face: the trained weights applied to every document
    // ONCE — fixed-point score, the model's keep verdict (an exact
    // integer comparison against ½ in prediction scale), the heuristic
    // label it distilled, and the agreement flag a deployment monitors.
    Q(
      "tx_quality_trained",
      (s, d) => TextOps.qualityScoreTrained(
        documents(s, d), documents(s, d), rounds = QualityTrainRounds),
      Some(s"""WITH ${qualityTrainChain(QualityTrainRounds)}
              |${qualityScoreSelect(QualityTrainRounds)}""".stripMargin),
    ),
    // The 100 TB training shape (tx_bpe_train_sampled's recipe on this
    // family): the iterative rounds run only over the deterministic 30%
    // hash sample; the full corpus is touched exactly once, at scoring
    // time — which is also what keeps the gradient sums inside the
    // BIGINT envelope past the ~7·10^8-document bound stated at the
    // operator (TextOps' scale-bound paragraph).
    Q(
      "tx_quality_train_sampled",
      (s, d) => TextOps.qualityScoreTrained(
        TextOps.hashSample(documents(s, d), buckets = 10, keep = 3),
        documents(s, d), rounds = QualityTrainRounds),
      Some(qualitySampledScoreSql),
    ),
    // The scoring job SERVED FROM THE ARTIFACT: the stored 1-row
    // `_weights` broadcast against one feature scan — the recurring
    // cost of scoring a corpus once the model is persisted (the
    // train-in-query twin above stays as the reference face; same
    // oracle, spec-pinned bit-equal).
    Q(
      "tx_quality_scored_indexed",
      (s, d) => TextOps.qualityScoreStored(
        documents(s, d), s.table(qualityWeightsTable(s, d))),
      Some(qualitySampledScoreSql),
    ),
    // HELD-OUT evaluation of the sampled-trained classifier — the
    // number a deployment actually gates promotion on: train on the
    // deterministic 30% hash sample, score ONLY the disjoint 70%, and
    // report the (heuristic, predicted) confusion counts. The standing
    // `agrees` flags of tx_quality_trained are measured on data the
    // full-corpus model saw; this face's agreement is out-of-sample.
    // The oracle replays the sample-restricted training chain and
    // scores an independently-derived held-out feature frame.
    Q(
      "tx_quality_eval",
      (s, d) => {
        val docs = documents(s, d)
        TextOps.qualityScoreTrained(
          TextOps.hashSample(docs, buckets = 10, keep = 3),
          TextOps.hashSampleHeldOut(docs, buckets = 10, keep = 3),
          rounds = QualityTrainRounds)
          .groupBy(col("heuristic_keep"), col("predicted_keep"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("heuristic_keep", "predicted_keep")
      },
      Some(s"""WITH ${qualityTrainChain(
                QualityTrainRounds,
                s"WHERE ${OracleSnippets.charHash("text")} % 10 < 3")},
              |${qualityFeatureSql(
                "fh",
                s"WHERE ${OracleSnippets.charHash("text")} % 10 >= 3")}
              |${qualityEvalSelect(QualityTrainRounds)}""".stripMargin),
    ),
    // The TRAINED model put to work in the shipping composition —
    // dedup → model-predicted quality filter → token-budget mixing
    // (dd_dedup_mix's shape keyed by predicted_keep instead of the
    // heuristic): LSH cluster keepers that the sampled-trained
    // classifier keeps, budgeted per source. The oracle composes the
    // recursive cluster closure, the unrolled training chain's round-8
    // weights as the keep predicate, and the integer budget arithmetic
    // — a drift anywhere in the three stages hash-mismatches.
    Q(
      "tx_quality_mix",
      (s, d) => {
        val docs = documents(s, d)
        val clusters = graft.operators.DedupOps.connectedComponents(
          graft.operators.DedupOps.minhashLshPairs(
            docs, DedupQueries.N, DedupQueries.K, DedupQueries.Bands,
            DedupQueries.JaccardThreshold))
        val keepers = docs
          .join(clusters, Seq("doc_id"), "left")
          .filter(col("component").isNull || col("component") === col("doc_id"))
        val modelKeep = TextOps.qualityScoreTrained(
          TextOps.hashSample(docs, buckets = 10, keep = 3), docs,
          rounds = QualityTrainRounds)
          .filter(col("predicted_keep"))
          .select(col("doc_id"))
        TextOps.mixByTokenBudget(
          keepers.join(modelKeep, Seq("doc_id"), "left_semi"),
          perSourceBudget = 500L, buckets = 10)
      },
      Some(qualityMixSql),
    ),
    // The shipping composition SERVED FROM ARTIFACTS — what a nightly
    // mix run actually pays once the cluster assignment and the trained
    // model are persisted: keepers read off fullLshIndex's `_clusters`
    // (label-prop ran once at index build; same N/K/Bands/threshold as
    // the in-query twin above), the keep predicate reads the stored
    // 1-row `_weights` artifact (training ran once, on the hash
    // sample), and the timed work is one corpus scan + the budget mix.
    // The in-query-derivation twin above stays as the corpus-scan
    // reference face; both state the same oracle truth, and
    // TextOpsSpec pins them bit-equal.
    Q(
      "tx_quality_mix_indexed",
      (s, d) => {
        val docs = documents(s, d)
        val clusters = s.table(s"${DedupQueries.fullLshIndex(s, d)}_clusters")
        val keepers = docs
          .join(clusters, Seq("doc_id"), "left")
          .filter(col("component").isNull || col("component") === col("doc_id"))
        val modelKeep = TextOps.qualityScoreStored(docs, s.table(qualityWeightsTable(s, d)))
          .filter(col("predicted_keep"))
          .select(col("doc_id"))
        TextOps.mixByTokenBudget(
          keepers.join(modelKeep, Seq("doc_id"), "left_semi"),
          perSourceBudget = 500L, buckets = 10)
      },
      Some(qualityMixSql),
    ),
    // Bigram-LM next-token serving table: for the 20 most frequent
    // bigram-starting unigrams, the argmax continuation and its exact
    // conditional probability (one double division of exact counts).
    Q(
      "tx_lm_next",
      (s, d) => TextOps.lmNextToken(documents(s, d), k = 20),
      Some("""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
             |p AS (SELECT w[i] AS w1, w[i+1] AS w2
             |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM t)),
             |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM p GROUP BY w1, w2),
             |top AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1
             |        FROM c2 GROUP BY w1 ORDER BY cnt1 DESC, w1 LIMIT 20),
             |best AS (
             |  SELECT c2.w1, cnt1, w2, cnt2,
             |         row_number() OVER (PARTITION BY c2.w1 ORDER BY cnt2 DESC, w2) AS rn
             |  FROM c2 JOIN top ON c2.w1 = top.w1)
             |SELECT w1, w2 AS next_tok, CAST(cnt2 AS BIGINT) AS n_pair,
             |       CAST(cnt2 AS DOUBLE) / CAST(cnt1 AS DOUBLE) AS p_next
             |FROM best WHERE rn = 1 ORDER BY w1""".stripMargin),
    ),
    // Unigram-LM perplexity proxy: corpus-trained token probabilities,
    // per-doc mean and max INVERSE probability (log-free — ln() is not
    // bit-portable across engines; see TextOps.unigramRarity). The
    // per-doc sum is an ordered fold over token position, so the doubles
    // hash-match exactly.
    Q(
      "tx_unigram_rarity",
      (s, d) => TextOps.unigramRarity(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             |         generate_subscripts(string_split(text, ' '), 1) AS pos
             |  FROM documents),
             |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
             |l AS (SELECT doc_id, pos,
             |        CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE) AS inv_p
             |      FROM t JOIN c USING (tok) CROSS JOIN tot)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  list_reduce(list_prepend(0.0, list(inv_p ORDER BY pos)),
             |              (ra, rb) -> ra + rb) / count(*) AS mean_inv_prob,
             |  max(inv_p) AS max_inv_prob
             |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // Bigram-LM rarity: inverse conditional probability 1/P(w2|w1) per
    // transition, corpus-trained, exact count ratios — the fluency
    // filter stacked on tx_unigram_rarity.
    Q(
      "tx_bigram_rarity",
      (s, d) => TextOps.bigramRarity(documents(s, d)),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |p AS (SELECT doc_id, i AS pos, w[i] AS w1, w[i+1] AS w2
             |      FROM (SELECT doc_id, w,
             |              unnest(generate_series(1, len(w) - 1)) AS i FROM t)),
             |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM p GROUP BY w1, w2),
             |c1 AS (SELECT w1, count(*) AS cnt1 FROM p GROUP BY w1),
             |l AS (SELECT doc_id, pos,
             |        CAST(cnt1 AS DOUBLE) / CAST(cnt2 AS DOUBLE) AS inv_cp
             |      FROM p JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  list_reduce(list_prepend(0.0, list(inv_cp ORDER BY pos)),
             |              (ba, bb) -> ba + bb) / count(*) AS mean_inv_cp,
             |  max(inv_cp) AS max_inv_cp
             |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // Corpus-relative quality binning: exact TTR quartile boundaries
    // from one aggregate, broadcast, docs bucketed row-locally (no
    // ntile window — that would single-partition the corpus).
    Q(
      "tx_quality_bins",
      (s, d) => TextOps.qualityBins(documents(s, d)),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS score
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             |b AS (SELECT quantile_cont(score, 0.25) AS p25,
             |             quantile_cont(score, 0.50) AS p50,
             |             quantile_cont(score, 0.75) AS p75 FROM s)
             |SELECT doc_id, score,
             |  CAST(1 + CASE WHEN score > p25 THEN 1 ELSE 0 END
             |         + CASE WHEN score > p50 THEN 1 ELSE 0 END
             |         + CASE WHEN score > p75 THEN 1 ELSE 0 END AS BIGINT) AS bin
             |FROM s CROSS JOIN b ORDER BY doc_id""".stripMargin),
    ),
    // Content-defined chunking: boundaries after tokens whose hash is
    // ≡ 0 mod 8 — edits shift only their own chunk, later chunks'
    // content hashes survive for chunk-level dedup stores.
    Q(
      "tx_cdc_chunk",
      (s, d) => TextOps.cdcChunk(documents(s, d), modulus = 8),
      Some {
        import OracleSnippets._
        s"""WITH t AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |         generate_subscripts(string_split(text, ' '), 1) AS pos
           |  FROM documents),
           |f AS (SELECT doc_id, pos, tok,
           |        CASE WHEN ${charHash("tok")} % 8 = 0 THEN 1 ELSE 0 END AS b
           |      FROM t),
           |c AS (SELECT doc_id, pos, tok,
           |        coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           |      FROM f)
           |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           |  CAST(count(*) AS BIGINT) AS n_tokens,
           |  string_agg(tok, ' ' ORDER BY pos) AS chunk_text
           |FROM c GROUP BY doc_id, chunk_id
           |ORDER BY doc_id, chunk_id""".stripMargin
      },
    ),
    // Chunk-level dedup over the CDC chunk store: chunk texts hashed and
    // counted corpus-wide, per-doc duplicated-chunk fraction — the
    // cross-document copy detector content-defined boundaries exist for.
    Q(
      "tx_chunk_dedup",
      (s, d) => TextOps.chunkDedup(documents(s, d), modulus = 8),
      Some {
        import OracleSnippets._
        s"""WITH t AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           |         generate_subscripts(string_split(text, ' '), 1) AS pos
           |  FROM documents),
           |f AS (SELECT doc_id, pos, tok,
           |        CASE WHEN ${charHash("tok")} % 8 = 0 THEN 1 ELSE 0 END AS b
           |      FROM t),
           |c AS (SELECT doc_id, pos, tok,
           |        coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           |      FROM f),
           |ch AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS chunk_text
           |       FROM c GROUP BY doc_id, chunk_id),
           |hh AS (SELECT doc_id, ${charHash("chunk_text")} AS h FROM ch),
           |fr AS (SELECT h, count(*) AS n_reps FROM hh GROUP BY h)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(sum(CASE WHEN n_reps > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           |  CAST(sum(CASE WHEN n_reps > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |    AS dup_frac
           |FROM hh JOIN fr USING (h)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
    ),
    // Paragraph-level boilerplate removal (the CCNet/RefinedWeb stage):
    // 10-word segments counted corpus-wide by portable hash, segments
    // seen > 2 times dropped, documents reassembled in segment order.
    Q(
      "tx_boilerplate",
      (s, d) => TextOps.removeBoilerplate(documents(s, d), width = 10, maxReps = 2),
      Some {
        import OracleSnippets._
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |sx AS (SELECT doc_id, w,
           |         unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS seg_idx
           |       FROM t),
           |s AS (SELECT doc_id, seg_idx,
           |        array_to_string(w[seg_idx*10+1 : seg_idx*10+10], ' ') AS seg
           |      FROM sx),
           |h AS (SELECT doc_id, seg_idx, seg, ${charHash("seg")} AS h FROM s),
           |f AS (SELECT h, count(*) AS n_reps FROM h GROUP BY h)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
           |  CAST(sum(CASE WHEN n_reps > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           |  coalesce(string_agg(CASE WHEN n_reps <= 2 THEN seg END, ' ' ORDER BY seg_idx), '')
           |    AS clean_text
           |FROM h JOIN f USING (h)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
    ),
    // Conjunctive retrieval over the inverted index: docs containing
    // ALL of {dup, spark, window}. The oracle states the semantics
    // independently (per-doc token-list membership); the engine runs
    // the posting-list intersection as one count aggregate over
    // term-filtered postings.
    Q(
      "tx_search_and",
      (s, d) => graft.operators.SearchOps.searchAnd(documents(s, d), Seq("dup", "spark", "window")),
      Some(searchAndSql),
    ),
    // Boolean MUST/MUST_NOT retrieval: spark AND window AND NOT slow —
    // the Lucene negated-clause query as ONE posting-list aggregate
    // (exclusion is a conditional count, not an anti-join).
    Q(
      "tx_search_not",
      (s, d) =>
        graft.operators.SearchOps
          .searchNot(documents(s, d), Seq("spark", "window"), Seq("slow")),
      Some(searchNotSql),
    ),
    // Exact phrase match ("table table") over positional postings,
    // counting OVERLAPPING occurrences — the oracle mirrors the
    // positional join (a substring regex would undercount "a a a").
    Q(
      "tx_search_phrase",
      (s, d) => graft.operators.SearchOps.searchPhrase(documents(s, d), Seq("table", "table")),
      Some(searchPhraseSql),
    ),
    // Proximity (NEAR/4) retrieval — AND's any-position and phrase's
    // exact-order have this between them: all terms within a 4-position
    // window, any order, counted by covering anchors (one range join
    // over term-filtered postings, not a k-way position product).
    Q(
      "tx_search_near",
      (s, d) =>
        graft.operators.SearchOps.searchNear(documents(s, d), Seq("spark", "window"), slop = 4),
      Some(searchNearSql),
    ),
    // Ranked retrieval, log-free TF-IDF (score = Σ tf·N/df in fixed
    // term order — ln() is non-portable across engines, the
    // tx_unigram_rarity precedent): 'dup' is ~34× rarer than the other
    // terms, so the ranking demonstrably follows the IDF weight, and
    // every score double is bit-reproduced by the oracle.
    Q(
      "tx_search_ranked",
      (s, d) => graft.operators.SearchOps.searchRanked(documents(s, d), Seq("dup", "spark", "table"), 10),
      Some(searchRankedSql),
    ),
    // The PERSISTED-index read path (SearchIndexOps): build the
    // term-bucketed postings/lexicon/meta tables into a temp-warehouse
    // database, then answer the conjunctive search entirely from the
    // stored artifact — pruned per-term bucket reads, no corpus scan,
    // no re-explode (SearchIndexSpec pins the plan). Results are
    // identical to tx_search_and's, so it shares that oracle.
    Q(
      "tx_search_indexed",
      (s, d) =>
        graft.operators.SearchIndexOps.searchAnd(
          s, fullSearchIndex(s, d), Seq("dup", "spark", "window")),
      Some(searchAndSql),
    ),
    // The same conjunctive retrieval served from the INCREMENTALLY-
    // GROWN index (4/5 seed + last fifth via indexBatch's ledgered
    // append) — sharing the FULL-CORPUS oracle, so any drift in the
    // incremental merge (lost append, doubled partial, guard miss)
    // hash-mismatches the from-scratch truth. The grow discipline's
    // oracle-checked read face, like dd_index_upload_verdict_grown for
    // the LSH family.
    Q(
      "tx_search_indexed_grown",
      (s, d) =>
        graft.operators.SearchIndexOps.searchAnd(
          s, grownSearchIndex(s, d), Seq("dup", "spark", "window")),
      Some(searchAndSql),
    ),
    // Boolean MUST/MUST_NOT retrieval served from the stored postings —
    // bucket pruning covers the union of both clause lists; shares
    // tx_search_not's oracle.
    Q(
      "tx_search_not_indexed",
      (s, d) =>
        graft.operators.SearchIndexOps.searchNot(
          s, fullSearchIndex(s, d), Seq("spark", "window"), Seq("slow")),
      Some(searchNotSql),
    ),
    // Phrase match served from the stored positional postings — each
    // phrase term is one pruned per-term read; shares tx_search_phrase's
    // oracle (same semantics, different postings source).
    Q(
      "tx_search_indexed_phrase",
      (s, d) =>
        graft.operators.SearchIndexOps.searchPhrase(
          s, fullSearchIndex(s, d), Seq("table", "table")),
      Some(searchPhraseSql),
    ),
    // Proximity search served from the stored postings — the term
    // filter prunes buckets; shares tx_search_near's core and oracle.
    Q(
      "tx_search_near_indexed",
      (s, d) =>
        graft.operators.SearchIndexOps.searchNear(
          s, fullSearchIndex(s, d), Seq("spark", "window"), slop = 4),
      Some(searchNearSql),
    ),
    // BM25 ranked retrieval (log-free idf): the textbook tf-saturation
    // + document-length normalization on top of the exact N/df weight —
    // long docs stop winning on raw tf, repeated terms saturate at
    // k1+1. Pure rational arithmetic (ln() is non-portable), so every
    // score double is bit-reproduced by the oracle.
    Q(
      "tx_search_bm25",
      (s, d) => graft.operators.SearchOps.searchBm25(documents(s, d), Seq("dup", "spark", "table"), 10),
      Some(searchBm25Sql),
    ),
    // The same BM25 served entirely from the stored artifact — tf from
    // pruned postings, df from lexicon partials, length norms from the
    // stored docs table, (N, avgdl) from meta partials. Shared core →
    // bit-equal scores → shared oracle.
    Q(
      "tx_search_bm25_indexed",
      (s, d) =>
        graft.operators.SearchIndexOps.searchBm25(
          s, fullSearchIndex(s, d), Seq("dup", "spark", "table"), 10),
      Some(searchBm25Sql),
    ),
    // BM25 over the GROWN index — the strongest grown-read check of
    // the family: the score touches ALL FOUR tables (tf from postings,
    // df summed across the seed's AND the batch's lexicon partials, dl
    // from docs, (N, avgdl) from summed meta partials), so any partial
    // the ingest lost or doubled shifts a score and hash-mismatches
    // the full-corpus oracle.
    Q(
      "tx_search_bm25_grown",
      (s, d) =>
        graft.operators.SearchIndexOps.searchBm25(
          s, grownSearchIndex(s, d), Seq("dup", "spark", "table"), 10),
      Some(searchBm25Sql),
    ),
    // Index health stats — the operational read an index owner runs:
    // hottest posting lists (the per-term read cost) with their df, one
    // aggregate over the stored postings, corpus untouched. Ties on
    // list length break by term so the top-N cut is deterministic.
    Q(
      "tx_search_stats",
      (s, d) =>
        graft.operators.SearchIndexOps.indexStats(s, fullSearchIndex(s, d), topN = 25),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
             |SELECT term, CAST(count(*) AS BIGINT) AS n_postings,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             |FROM t GROUP BY term
             |ORDER BY n_postings DESC, term LIMIT 25""".stripMargin),
    ),
    // Incremental index growth: 4/5 of the corpus indexed up front, the
    // doc_id % 5 == 0 batch appended WITHOUT rewriting existing files
    // (new postings/lexicon files per bucket, one new meta row; df and
    // N are sums of per-batch partials). The grown index must answer
    // the ranked TF-IDF search exactly as a full-corpus scan — ranked
    // is the read path that exercises the partial-sum merge of BOTH
    // lexicon (df) and meta (N), so it shares tx_search_ranked's oracle.
    //
    // Bench-cost breakdown (profiled warm at sf0.1, local[8], round 11):
    // writeIndex of the 4/5 corpus ~2.1 s + append of the 1/5 batch
    // ~1.4 s + the ranked read itself ~0.55 s. The deliberate per-query
    // REBUILD is ~85% of the measured time — the query exists to pin
    // correctness of the grow-then-read path, so the rebuild stays in
    // scope; the replay guard contributes nothing here (this path uses
    // appendDocuments directly, no guard probes).
    Q(
      "tx_search_incremental",
      (s, d) => {
        val docs = documents(s, d)
        val pre = Tables.tempIndexDb(s, "search", s"incr_${Tables.datasetKey(d)}")
        graft.operators.SearchIndexOps.writeIndex(
          docs.filter(col("doc_id") % 5 =!= 0), buckets = 8, prefix = pre)
        graft.operators.SearchIndexOps.appendDocuments(
          s, pre, docs.filter(col("doc_id") % 5 === 0))
        graft.operators.SearchIndexOps.searchRanked(s, pre, Seq("dup", "spark", "table"), 10)
      },
      Some(searchRankedSql),
    ),
  )
}
