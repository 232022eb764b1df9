package graft.operators

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.{HexFormat, UUID}
import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, min, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}

/** Catalog lookups, layout maintenance, the crash-repair ingest ledger
  * with its guarded appends, the bounded key lookup and the streaming
  * sink shared by the persisted-index families
  * ([[LshIndexOps]], [[SearchIndexOps]], [[MediaIndexOps]],
  * [[VectorIndexOps]] and [[GraphOps]]' growable edge table).
  *
  * Each family states its tables once, as a [[Family]] value here
  * ([[LshIndex]], [[MediaIndex]], [[SearchIndex]], [[VectorIndex]],
  * [[EdgeTable]]); rebucket, compaction, the candidate-cost dial and
  * the layout stats are defined once on it. Every index-side stream
  * runs through [[stream]], one `foreachBatch` sink over a checkpoint.
  *
  * The key lookup is two helpers: [[capped]] collects a bounded key or
  * hit list (`None` past its cap, so the caller takes its distributed
  * join or plan instead), and [[keyed]] reads a table through one IN
  * filter on those keys, pushed into the parquet scan and pruning
  * buckets when the column is the bucket key. Crash-repair presence
  * probes ([[PresenceProbe]], [[present]]), Search's replay guard and
  * the bounded LSH upload verdict and ingest wave all go through them.
  *
  * A table's bucket and sort columns are stated ONCE, by the build
  * write's `bucketBy`/`sortBy`; from then on the catalog's `BucketSpec`
  * is the only copy. Appends go through `insertInto`, which writes with
  * the table's own spec, and every maintenance rewrite here
  * ([[stageTableFrom]] and the rebucket and compaction built on it)
  * reads the columns from that spec — so no caller restates a layout,
  * and nothing holds a bucket count that a rebucket could make stale (a
  * stale count fails the next append's bucket-spec match, killing a
  * running streaming ingest, which survives a mid-stream rebucket
  * precisely because of this rule).
  */
private[graft] object IndexCatalog {

  /** Batches with at most this many distinct ids use a driver-side id
    * list ([[capped]]) for the crash-repair [[PresenceProbe]] and
    * Search's replay guard (a bounded collect — metadata-scale); larger
    * batches fall back to a distributed semi-join.
    */
  val ProbeIdCap = 100000

  /** The rows of `df` when it holds at most `cap`, else None — the
    * bounded collect behind every key and hit list the index families
    * take to the driver. A local frame (one the optimizer folds into a
    * `LocalRelation`, such as a `Seq.toDF` with a projection) is
    * collected directly and runs no Spark job. Any other frame is
    * collected once (one job for a scan), and each task sends at most
    * its share of `cap` (cap / tasks) rows, plus an overflow marker past
    * it, so the driver takes at most `cap` + tasks rows; one marker
    * makes the answer None. A
    * task over its share (a hot key) therefore overflows even when the
    * frame as a whole holds fewer than `cap` rows: the caller's
    * distributed fallback gives the same answer. Only rows passing
    * `keep` count and are sent; it runs inside the scan task, where a
    * large key set costs less than an IN list pushed into the parquet
    * reader (see [[keyed]]).
    */
  def capped(df: DataFrame, cap: Int, keep: Row => Boolean = _ => true): Option[Array[Row]] =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      Some(df.collect().filter(keep)).filter(_.length <= cap)
    else {
      // (overflow, row): the marker carries no row, so the row struct is
      // nullable and its own fields keep the frame's schema.
      val marked = StructType(Seq(
        StructField("overflow", BooleanType, nullable = false),
        StructField("row", df.schema, nullable = true)))
      val sent = df
        .mapPartitions { (rows: Iterator[Row]) =>
          val share = cap / TaskContext.get().numPartitions()
          rows.filter(keep).take(share + 1).zipWithIndex
            .map { case (r, i) => if (i < share) Row(false, r) else Row(true, null) }
        }(Encoders.row(marked))
        .collect()
      if (sent.exists(_.getBoolean(0))) None else Some(sent.map(_.getStruct(1)))
    }

  /** The live `table`'s rows whose `column` is one of `keys`, through
    * ONE IN filter built as a single `InSet` (the keys cast once to the
    * column's type): parquet pushes it down as an `In` and, on the
    * bucket column, the scan reads only the keys' buckets — the same
    * for every caller, and without analysing one literal per key.
    *
    * Meant for short key lists. The parquet reader tests a pushed-down
    * `In` per row, and past a few hundred keys that costs more than the
    * scan: on a 950-doc LSH index (32 `_bands` files, `local[4]`,
    * medians of 12 interleaved runs) a ~1,600-key band-key probe read
    * through here took 270 ms, against 111 ms with the set tested
    * inside the scan task ([[capped]]'s `keep`) and 112 ms with the IN
    * pushdown off; pushed as ORed equalities it took 915 ms. At 32 keys
    * all of them took ~100 ms.
    */
  def keyed(spark: SparkSession, table: String, column: String, keys: Seq[Any]): DataFrame = {
    val t = readLive(spark, table)
    val dt = t.schema(column).dataType
    val set: Set[Any] = keys.map(k => Cast(Literal(k), dt).eval()).toSet
    t.filter(GraftColumnBridge.toColumn(InSet(GraftColumnBridge.toExpression(col(column)), set)))
  }

  /** True when `table` holds any row whose `column` is one of `keys`.
    * Invalidates the relation first — an append earlier in the same
    * repair must be visible to the probe.
    */
  def present(spark: SparkSession, table: String, column: String, keys: Seq[Any]): Boolean = {
    invalidate(spark, table)
    !keyed(spark, table, column, keys).isEmpty
  }

  /** Drops `spark`'s cached relation of `table`, so its next read lists
    * the table's files again and sees appends made from any session. It
    * lists nothing itself: `refreshTable` would list the files at once,
    * and the next read lists them anyway (20.5 ms against 0.04 ms on a
    * 613-file bucketed table, `local[4]`, medians of 30).
    */
  private def invalidate(spark: SparkSession, table: String): Unit =
    spark.sessionState.catalog.invalidateCachedTable(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The ingest ledger's table name for an index family's `owner`
    * (an index prefix, or a growable edge table's name).
    */
  def ledgerTable(owner: String): String = owner + LedgerSuffix

  private val LedgerSuffix = "_batches"

  /** Drop `owner`'s ingest ledger. Every rebuild calls this: a rebuilt
    * index is a fresh artifact, and a stale ledger would make the
    * family's ingest skip legitimate batches of the new generation.
    */
  def dropLedger(spark: SparkSession, owner: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${ledgerTable(owner)}")

  /** Run one batch's appends at most once to completion — the
    * intent/commit ingest ledger that makes every family's
    * [[stream]] sink idempotent under at-least-once delivery.
    *
    * `batchKey` must be reproducible across checkpoint replays: LSH,
    * Search and Media pass their min doc_id, Vector its micro-batch
    * id, Graph an `id:`/`h:` scheduler-id or content key; any string is
    * a valid key. A key with a `commit` mark short-circuits (a replay of
    * a committed batch is a no-op). Otherwise an `intent` mark is
    * written, `appends` runs, and a `commit` mark is written.
    *
    * A replay that finds `intent` without `commit` — a crash in the
    * middle — calls `appends(true)`. Table appends are repaired by
    * [[Appends]] ([[ledgeredAppends]]): it skips each append whose
    * guard finds the batch already landed, so exactly the missing
    * appends re-run and nothing lands twice. Each append must
    * therefore be one atomic job commit whose presence proves the
    * whole append landed; the residual exposure is that single-append
    * atomicity, the engine-level floor without a transactional table
    * format (Iceberg/Delta). A crash after the appends but before the
    * commit mark leaves a dangling `intent`: the replay either repairs
    * it (every guard finds its table present) or, when the caller's
    * own membership guard filters the replay to empty before it
    * reaches the ledger, leaves it inert — batch keys are unique, so no
    * later batch matches it. A caller whose steps are idempotent by
    * construction ([[GraphOps]]' anti-join grow) reads `appends`' flag
    * itself.
    *
    * Storage: the ledger is the catalog table
    * `<owner>_batches(batch_key STRING, phase STRING) USING json`
    * (created lazily), a keyed store of one file per mark. The driver
    * writes each mark as `<phase>-<sha256(key)>.json`, holding one JSON
    * line, under a hidden temp name renamed into place, so readers of
    * the table never see a partial file. The phase read is two
    * `FileSystem.exists` calls on those names.
    *
    * Cost: no Spark job and no scan on any path. Each batch pays at
    * most two existence checks, two small file writes and two
    * relation-cache invalidations (so a same-session read of the table
    * lists the new marks); none of it grows with the number of batches
    * the ledger holds.
    *
    * A pre-existing `<owner>_batches` table of any other schema or
    * format fails with an error naming it, before `appends` runs and
    * without touching the table. That includes the parquet ledger of
    * the same columns that indexes built before the keyed store carry:
    * the ledger is never dropped or reinterpreted silently.
    */
  def ledgered(spark: SparkSession, owner: String, batchKey: String)(
      appends: Boolean => Unit,
  ): Unit = {
    val ledger = ledgerTable(owner)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(ledger)
    val dir = ledgerDir(spark, ledger, ident)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = HexFormat.of().formatHex(
      MessageDigest.getInstance("SHA-256").digest(batchKey.getBytes(UTF_8)))
    def mark(phase: String) = new Path(dir, s"$phase-$name.json")
    if (fs.exists(mark("commit"))) return
    val repairing = fs.exists(mark("intent"))
    def record(phase: String): Unit = {
      val tmp = new Path(dir, s".$phase-$name.${UUID.randomUUID()}.tmp")
      val key = new String(JsonStringEncoder.getInstance().quoteAsString(batchKey))
      val out = fs.create(tmp, false)
      try out.write(s"""{"batch_key":"$key","phase":"$phase"}\n""".getBytes(UTF_8))
      finally out.close()
      if (!fs.rename(tmp, mark(phase)))
        throw new IOException(s"could not record $phase of batch $batchKey in $ledger")
      spark.sessionState.catalog.invalidateCachedTable(ident)
    }
    if (!repairing) record("intent")
    appends(repairing)
    record("commit")
  }

  /** The directory of `ledger`'s marks, creating the table when absent;
    * a table of another schema or format is refused (see [[ledgered]]).
    * Catalog metadata only, no Spark job.
    */
  private def ledgerDir(spark: SparkSession, ledger: String, ident: TableIdentifier): Path = {
    val catalog = spark.sessionState.catalog
    if (!catalog.tableExists(ident))
      spark.sql(s"CREATE TABLE IF NOT EXISTS $ledger (batch_key STRING, phase STRING) USING json")
    val meta = catalog.getTableMetadata(ident)
    val columns = meta.schema.map(f => f.name -> f.dataType)
    val format = meta.provider.getOrElse("")
    if (!format.equalsIgnoreCase("json") ||
        columns != Seq("batch_key" -> StringType, "phase" -> StringType))
      throw new IllegalStateException(
        s"$ledger is not an ingest ledger (batch_key STRING, phase STRING) USING json: " +
          s"found (${meta.schema.toDDL}) USING $format; drop it or rebuild the index")
    new Path(meta.location)
  }

  /** Append `rows` to `table` through `insertInto` (the table's own
    * column order and bucket/sort spec), then invalidate it in `spark`
    * ([[invalidate]]): the session caches a table's file listing on
    * first read, and `rows` may belong to another session (a stream's
    * micro-batch), whose write refreshes only its own cache. One write
    * job; the ingest ledger's marks do not come through here.
    */
  def append(spark: SparkSession, table: String, rows: DataFrame): Unit = {
    rows.write.mode("append").insertInto(table)
    invalidate(spark, table)
  }

  /** `batch` materialised by `localCheckpoint`, with its ledger key:
    * its minimum `idCol` (a long), or None for an empty batch. A
    * `Dataset.observe` reads the count and the minimum on the
    * checkpoint's own job, so the key costs no job of its own; the
    * metrics are read from the finished plan, never waited for.
    */
  def checkpointKeyed(batch: DataFrame, idCol: String = "doc_id"): (DataFrame, Option[Long]) = {
    val observed = batch.observe(KeyMetrics, count(lit(1)), min(col(idCol)))
    val frame = observed.localCheckpoint()
    val r = observed.queryExecution.observedMetrics(KeyMetrics)
    (frame, Option.when(r.getLong(0) > 0)(r.getLong(1)))
  }

  private val KeyMetrics = "batch_key"

  /** One table append of a batch: `rows` go to `<owner>_<table>`. The
    * crash-repair guard `landed` answers "does this table already hold
    * the batch?" for the full table name; by default it is the batch's
    * [[PresenceProbe]]. Rows that carry no batch id (per-batch partials)
    * use [[taggedWith]] instead. `rows` is evaluated only if the append
    * runs.
    */
  final class Append(
      val table: String,
      rows: => DataFrame,
      val landed: Option[String => Boolean] = None,
  ) {
    private[IndexCatalog] def frame: DataFrame = rows
  }

  /** The guard for partial rows tagged with their batch's `batch_key`
    * column: `table` holds a row with that tag.
    */
  def taggedWith(spark: SparkSession, batchKey: Long): String => Boolean =
    present(spark, _, "batch_key", Seq(batchKey))

  /** A batch's table appends, one group per call. `apply` runs the
    * group's appends concurrently ([[concurrently]]) and returns when
    * all have landed, so consecutive calls land in order: a family
    * appends its membership table in the last call, making it the
    * batch's commit marker. On a repairing replay an append whose guard
    * finds the batch already landed is skipped; the guards run on this
    * thread before the group starts, and the [[PresenceProbe]] over
    * `batch`'s `idCol` list is built at most once per repair and never
    * on a fresh batch.
    */
  final class Appends(
      spark: SparkSession,
      owner: String,
      batch: DataFrame,
      repairing: Boolean,
      idCol: String = "doc_id",
  ) {
    private lazy val probe = new PresenceProbe(spark, batch, idCol = idCol)

    def apply(group: Append*): Unit = {
      val due = group.map(a => (s"${owner}_${a.table}", a)).filter { case (table, a) =>
        !repairing || !a.landed.fold(probe(table))(_(table))
      }
      concurrently(spark)(due.map { case (table, a) => () => append(spark, table, a.frame) })
    }
  }

  /** [[ledgered]] for a batch whose work is table appends: `steps`
    * lists them as [[Appends]] groups over `batch`, and a repairing
    * replay re-runs only the missing ones.
    */
  def ledgeredAppends(spark: SparkSession, owner: String, batchKey: Long, batch: DataFrame)(
      steps: Appends => Unit,
  ): Unit =
    ledgered(spark, owner, batchKey.toString)(repairing =>
      steps(new Appends(spark, owner, batch, repairing)))

  /** Runs `tasks` at once: all but the last on daemon threads (started
    * with the caller's session and local properties, so their jobs
    * belong to the caller's SQL execution), the last on this one.
    * Returns once EVERY task has finished — no write is left running
    * behind a failure — and then rethrows the first failure in task
    * order.
    */
  private def concurrently(spark: SparkSession)(tasks: Seq[() => Unit]): Unit =
    if (tasks.nonEmpty) {
      val started = tasks.init.map(t =>
        SQLExecution.withThreadLocalCaptured(castToImpl(spark), appendPool)(t()))
      val last = Try(tasks.last())
      val outcomes = started.map(f =>
        Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      (outcomes :+ last).foreach(_.get)
    }

  private lazy val appendPool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "index-append")
    t.setDaemon(true)
    t
  }

  /** The crash-repair presence probe, [[Appends]]' default guard for
    * the LSH, Media, Search and Vector ingests ([[GraphOps]]' grow
    * steps are idempotent anti-joins and need none): "does `table`
    * already hold any of this batch's rows?" — presence of one row
    * implies the whole batch landed there, because each table append
    * is a single atomic job commit. The batch's distinct `idCol` list
    * is collected ONCE per
    * repair ([[capped]], lazily — the fresh-batch fast path never pays
    * it), not once per probed table, and each probe is a [[present]]
    * over it (bucket pruning + parquet row-group id stats skip every
    * file but the crashed append's own); batches above `cap` distinct
    * ids fall back to a distributed semi-join probe instead.
    */
  final class PresenceProbe(
      spark: SparkSession,
      batch: DataFrame,
      cap: Int = ProbeIdCap,
      idCol: String = "doc_id",
  ) {
    private def batchIds = batch.select(col(idCol)).distinct()
    private lazy val ids: Option[Seq[Any]] = capped(batchIds, cap).map(_.map(_.get(0)).toSeq)

    /** True when `table` already holds any of the batch's ids. */
    def apply(table: String): Boolean = ids match {
      case Some(ks) => present(spark, table, idCol, ks)
      case None =>
        invalidate(spark, table)
        !spark.table(table).join(batchIds, Seq(idCol), "left_semi").isEmpty
    }
  }

  /** The stored table's layout as its catalog records it, or a hard
    * error for tables that are not graft index tables (appending
    * unbucketed data into an index would silently disable every pruned
    * read path).
    */
  private[graft] def bucketSpec(spark: SparkSession, table: String): BucketSpec =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec
      .getOrElse(sys.error(s"$table has no bucket spec — not a graft index table"))

  /** Swap fully-staged replacement tables over their live names — the
    * maintenance-commit step shared by every index family's rebucket
    * and compaction. `pairs` is (live, staged); all staged tables were
    * written BEFORE this is called, so the entire rewrite phase (the
    * minutes-long part) is invisible to readers — they see the old
    * index in full. Each swap is rename-FIRST: live → `_old`, staged →
    * live, then drop `_old`. The reader-visible hole shrinks from "the
    * whole rewrite of every later table" (the old drop-then-rewrite
    * ordering) to the instants between two catalog renames, and a
    * crash mid-swap leaves `_old` as a recovery copy instead of a
    * dangling live name. True zero-window atomicity across tables
    * needs a catalog with multi-table transactions — a table-format
    * concern, not a query-engine one; the single-maintainer contract
    * stands for the rename instants.
    */
  def swapStaged(spark: SparkSession, pairs: Seq[(String, String)]): Unit =
    pairs.foreach { case (live, staged) =>
      // A prior swap may have crashed between its two renames, leaving
      // `_old` as the only copy; restore it before touching anything —
      // the old behavior (DROP IF EXISTS `_old` first) silently
      // destroyed the recovery copy and left downstream tableExists
      // guards skipping maintenance on a missing live name.
      recoverDangling(spark, live)
      val old = s"${live}_old"
      spark.sql(s"DROP TABLE IF EXISTS $old")
      spark.sql(s"ALTER TABLE $live RENAME TO $old")
      spark.sql(s"ALTER TABLE $staged RENAME TO $live")
      spark.sql(s"DROP TABLE $old")
    }

  /** Repair the crash window between [[swapStaged]]'s two renames: a
    * dangling `${table}_old` with NO live `$table` means the first
    * rename committed and the second never ran — `_old` is the sole
    * complete copy, so rename it back. Maintainers call this BEFORE
    * any `tableExists(table)` guard (a missing live name must read as
    * "crashed swap, recover" — never as "artifact was never built",
    * which would silently skip the maintenance step and leave the read
    * face stale). Idempotent and cheap: two catalog existence probes
    * on the healthy path.
    */
  def recoverDangling(spark: SparkSession, table: String): Unit = {
    val old = s"${table}_old"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(old)) {
      spark.sql(s"ALTER TABLE $old RENAME TO $table")
      spark.catalog.refreshTable(table)
    }
  }

  /** Read a swap-managed artifact resiliently across [[swapStaged]]'s
    * rename-instant window: resolve the live name; on a miss retry
    * once (the swap completes in the gap between two catalog renames,
    * so one retry covers the common race), then fall back to `_old` —
    * the complete pre-swap copy that exists for exactly the duration
    * of the window. Content-wise the fallback is safe by the staging
    * contract: `_old` and the incoming live table hold the same
    * logical artifact (a rebucket/compaction changes layout only; a
    * cluster grow is idempotent), so a reader landing on `_old` sees a
    * consistent — at worst one-swap-stale — artifact instead of a
    * NoSuchTable failure. A miss with no `_old` either rethrows the
    * original error (genuinely absent table).
    */
  def readLive(spark: SparkSession, table: String): DataFrame =
    try spark.table(table)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        try spark.table(table)
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            val old = s"${table}_old"
            if (spark.catalog.tableExists(old)) spark.table(old) else throw e
        }
    }

  /** Write `table`'s replacement under a staged name at `buckets`
    * physical buckets, touching nothing live — the phase-1 primitive
    * behind every rebucket and compaction ([[stageTableFrom]] over the
    * whole live table).
    */
  def stageTable(spark: SparkSession, table: String, buckets: Int): (String, String) =
    stageTableFrom(spark, table, spark.table(table), Some(buckets))

  /** Stage `source` as `table`'s replacement under `${table}_rebucket`,
    * touching nothing live, with the bucket and sort columns of
    * `table`'s catalog [[bucketSpec]] at `buckets` physical buckets (by
    * default its current count). A `source` other than the whole table
    * is a derived rewrite of it: a tombstone purge, a relabel, a grown
    * cluster assignment, a rebuilt edge set or degree table.
    *
    * The explicit `repartition(buckets, keys)` matters: Spark's
    * bucketed WRITE never shuffles on its own, so each input task
    * writes one file per bucket value it holds — a T-task rewrite would
    * emit up to T × buckets files, re-creating the fragmentation a
    * compaction exists to remove. repartition's hash is the bucket hash
    * (pmod(murmur3(keys), buckets)), so after it each task holds
    * exactly one bucket and the staged table lands at ONE file per
    * bucket. Planning happens at the write action, inside the conf
    * guard below, which is what makes a bucketed scan of `table` align
    * with the write.
    *
    * The staged table carries over `table`'s `graft.*` table properties
    * (a plain `saveAsTable` writes none), so metadata an index records on
    * itself — the Media chunk layout's `graft.block_bands` — survives
    * every rebucket and compaction.
    */
  def stageTableFrom(
      spark: SparkSession,
      table: String,
      source: DataFrame,
      buckets: Option[Int] = None,
  ): (String, String) = {
    val spec = bucketSpec(spark, table)
    val n = buckets.getOrElse(spec.numBuckets)
    val keys = spec.bucketColumnNames
    val sortCols = spec.sortColumnNames
    val tmp = s"${table}_rebucket"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // autoBucketedScan must be OFF for this read (saved/restored): with
    // it on, Spark 4.1 first elides the repartition exchange because
    // the bucketed scan promises HashPartitioning(keys, oldBuckets),
    // then DisableUnnecessaryBucketedScan — seeing no remaining
    // consumer of that partitioning — drops the bucketed layout, and
    // the write receives raw file splits: every task spills files into
    // every bucket, re-creating the fragmentation this rewrite exists
    // to remove (measured; the readCells caveat's write-side twin).
    // With it off, a same-count compaction reads one partition per
    // bucket and writes one file per bucket with NO shuffle at all; a
    // changed-count rebucket keeps the aligned repartition exchange.
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try {
      val w = source
        .repartition(n, keys.map(col): _*)
        .write.mode("overwrite")
        .bucketBy(n, keys.head, keys.tail: _*)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
        .saveAsTable(tmp)
    } finally spark.conf.set(conf, saved)
    val props = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties.filter(_._1.startsWith("graft."))
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    (table, tmp)
  }

  /** The worst bucket's physical file count — the cost a pruned read
    * actually pays (a probe of one bucket opens that bucket's files).
    * Bucket ids are parsed from the bucketed-file naming scheme
    * (`..._NNNNN.c000...`); driver-side metadata only (one array entry
    * per file), never a data scan — the LayoutOps.compactionPlan
    * argument applied to index tables.
    */
  def maxFilesPerBucket(spark: SparkSession, table: String): Int = {
    val bucketOf = "_(\\d{5})\\.".r
    val files = spark.table(table).inputFiles
    if (files.isEmpty) 0
    else
      files
        .groupBy(f => bucketOf.findFirstMatchIn(f.substring(f.lastIndexOf('/') + 1)).map(_.group(1)))
        .values.map(_.length).max
  }

  /** An index family's tables, stated once as suffixes of the family's
    * owner (an index prefix, or a growable edge table's name): the one
    * definition of what rebucket, compaction, the candidate-cost dial
    * and the layout stats cover. `bucketed` tables always exist;
    * `optional` bucketed tables join them when present (LSH and Media
    * `_meta`, Vector `_codes` once published); `cost` names the table
    * whose bucket-key self-join is the family's candidate cost;
    * `coalesced` tables are unbucketed per-append partials that
    * compaction rewrites to one file (Search `_meta`); `reported` tables
    * are listed by [[fileStats]] only.
    *
    * Every maintainer here first recovers each family table a crashed
    * [[swapStaged]] left under `_old` ([[recoverDangling]]), before any
    * existence check: an optional table is never skipped and a required
    * one never fails as missing. [[fileStats]] and ingest do not
    * recover — they may run beside a maintainer's rename instants, and
    * only the single maintainer renames.
    */
  final case class Family(
      bucketed: Seq[String],
      optional: Seq[String] = Nil,
      cost: Option[String] = None,
      coalesced: Seq[String] = Nil,
      reported: Seq[String] = Nil,
  ) {

    /** The bucketed tables a maintainer rewrites, after recovering
      * every family table.
      */
    def maintained(spark: SparkSession, owner: String): Seq[String] = {
      (bucketed ++ optional ++ coalesced).foreach(t => recoverDangling(spark, owner + t))
      bucketed.map(owner + _) ++ optional.map(owner + _).filter(spark.catalog.tableExists)
    }

    /** Phase 1 of [[rebucket]]: stage every bucketed table's
      * replacement at `newBuckets`, touching nothing live. Returns the
      * (live, staged) pairs for [[swapStaged]].
      */
    def stageRebucket(spark: SparkSession, owner: String, newBuckets: Int): Seq[(String, String)] =
      maintained(spark, owner).map(stageTable(spark, _, newBuckets))

    /** Rewrite the bucketed tables at `newBuckets` physical buckets,
      * each keeping its bucket and sort columns; content is preserved
      * bit-for-bit. It is the parallelism dial: an exchange-free
      * bucketed join runs one task per bucket, so the build-time count
      * caps it however large the index grows. Every replacement is staged before any live name
      * moves, so readers see the complete old tables through the whole
      * rewrite, then [[swapStaged]] commits them. Appends go through
      * `insertInto`, which writes with the live spec, so a running
      * streaming ingest lands its next batch at the new count.
      */
    def rebucket(spark: SparkSession, owner: String, newBuckets: Int): Unit =
      swapStaged(spark, stageRebucket(spark, owner, newBuckets))

    /** The rebucket dial wired to candidate cost: a self-join on the
      * `cost` table's bucket columns costs Σ s·(s−1)/2 over its key
      * groups, and with one task per physical bucket the per-task share
      * is cost / buckets. When that share exceeds
      * `candidatesPerBucketBudget`, [[rebucket]] with enough buckets to
      * bring it back under, capped at `maxBuckets`. Returns the new
      * bucket count, or None when the current layout is within budget.
      * The one-row `head()` is a driver-side scalar read.
      */
    def rebucketIfNeeded(
        spark: SparkSession,
        owner: String,
        candidatesPerBucketBudget: Long,
        maxBuckets: Int = 4096,
    ): Option[Int] = {
      val budget = candidatesPerBucketBudget
      require(budget > 0, "budget must be positive")
      val costTable = owner + cost.getOrElse(sys.error(s"$owner's index family has no cost table"))
      val tables = maintained(spark, owner)
      val spec = bucketSpec(spark, costTable)
      val total = spark
        .table(costTable)
        .groupBy(spec.bucketColumnNames.map(col): _*)
        .agg(count(lit(1)).as("s"))
        .agg(coalesce(sum(expr("s * (s - 1) DIV 2")), lit(0L)))
        .head()
        .getLong(0)
      val needed = math.min(maxBuckets.toLong, (total + budget - 1) / budget).toInt
      if (needed > spec.numBuckets) {
        swapStaged(spark, tables.map(stageTable(spark, _, needed)))
        Some(needed)
      } else None
    }

    /** Append compaction at the current bucket count: each append adds
      * one file per touched bucket, so pruned reads open O(appends)
      * files per probe until this runs. Rewrites ONLY the bucketed
      * tables whose worst bucket exceeds `maxFilesPerBucket`, and the
      * `coalesced` tables holding more files than that (to one file;
      * their partial rows are kept, readers sum them), staged all
      * before any swap. Returns the rewritten tables (empty = layout
      * already within budget; the call did no data work, only
      * driver-side file listings).
      */
    def compact(spark: SparkSession, owner: String, maxFilesPerBucket: Int = 4): Seq[String] = {
      require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be at least 1")
      val picked = maintained(spark, owner)
        .filter(IndexCatalog.maxFilesPerBucket(spark, _) > maxFilesPerBucket)
      val partials = coalesced.map(owner + _)
        .filter(spark.table(_).inputFiles.length > maxFilesPerBucket)
      swapStaged(spark, picked.map(t => stageTableFrom(spark, t, spark.table(t))) ++
        partials.map { t =>
          val tmp = s"${t}_rebucket"
          spark.sql(s"DROP TABLE IF EXISTS $tmp")
          spark.table(t).coalesce(1).write.mode("overwrite").saveAsTable(tmp)
          (t, tmp)
        })
      picked ++ partials
    }

    /** Physical layout health: per table, total file count and
      * worst-bucket file count — the two dials appends degrade and
      * [[compact]] restores — for every family table that exists.
      * Driver-side listings only (no oracle: file layout is
      * execution-dependent), surfaced as a DataFrame like any other
      * health view.
      */
    def fileStats(spark: SparkSession, owner: String): DataFrame = {
      val rows = (bucketed ++ optional ++ coalesced ++ reported).map(owner + _)
        .filter(spark.catalog.tableExists)
        .map(t => (t, spark.table(t).inputFiles.length.toLong, maxFilesPerBucket(spark, t).toLong))
      spark.createDataFrame(rows).toDF("table", "n_files", "max_files_per_bucket")
    }
  }

  /** The persisted MinHash-LSH index ([[LshIndexOps]]). */
  val LshIndex = Family(Seq("_docs", "_bands"), optional = Seq("_meta"), cost = Some("_bands"))

  /** The persisted perceptual-fingerprint index ([[MediaIndexOps]]). */
  val MediaIndex = Family(Seq("_fps", "_chunks"), optional = Seq("_meta"), cost = Some("_chunks"))

  /** The persisted inverted index ([[SearchIndexOps]]). */
  val SearchIndex = Family(
    Seq("_postings", "_lexicon", "_docs"), coalesced = Seq("_meta"), reported = Seq(LedgerSuffix))

  /** The persisted IVF vector index ([[VectorIndexOps]]). */
  val VectorIndex = Family(
    Seq("_vectors"), optional = Seq("_codes"),
    reported = Seq("_codebook", "_pq_codebook", LedgerSuffix))

  /** [[GraphOps]]' growable edge table and its membership table; its
    * `_deg` is rewritten whole on every grow and never fragments.
    */
  val EdgeTable = Family(Seq("", "_members"))

  /** Runs `perBatch` on every micro-batch of `input` — the one streaming
    * sink of every index-side stream. The stream's progress lives in
    * `checkpoint`, so a restart on it resumes after the last committed
    * batch; a batch that failed before its commit is handed to
    * `perBatch` again with the same id (at-least-once), which the
    * ingest ledger ([[ledgered]]) or a read-only `perBatch` makes
    * harmless.
    */
  def stream(input: DataFrame, checkpoint: String)(
      perBatch: (DataFrame, Long) => Unit,
  ): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(perBatch)
      .start()
}
