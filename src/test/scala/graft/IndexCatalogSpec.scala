package graft

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions.{col, lit, raise_error, udf}
import scala.jdk.CollectionConverters._
import graft.operators.IndexCatalog

/** The crash-repair ingest ledger every persisted-index family shares
  * (IndexCatalog.ledgered): a fresh key runs its appends once between
  * an intent and a commit row, a crash leaves the intent for a
  * repairing rerun, a committed key never runs again, none of it runs
  * a Spark job, and a foreign table under the ledger's name (a parquet
  * ledger included) is refused rather than reinterpreted.
  * checkpointKeyed keys a batch by its minimum id, None when empty, on
  * the checkpoint's own job.
  * Guarded appends (ledgeredAppends) run their groups in order, consult
  * no guard on a fresh key, re-run only what a repair finds missing, and
  * let a concurrent group finish before a failure surfaces; an append
  * is visible to the caller's next read even when another session
  * wrote it.
  * Staged layout rewrites (rebucket, compaction) keep the bucket and
  * sort columns the catalog records for the live table. The bounded
  * key lookup (capped, keyed, present) returns every row up to its cap
  * and None past it, runs no job for a local frame, and sees appends
  * made after its first read. Each family's layout stats name its
  * tables in a fixed order, and `stream` hands each micro-batch over
  * once, resuming after the last committed batch on a restart.
  */
class IndexCatalogSpec extends SparkSpec {

  private def phases(owner: String, key: String): Seq[String] = {
    spark.catalog.refreshTable(IndexCatalog.ledgerTable(owner))
    spark.table(IndexCatalog.ledgerTable(owner))
      .filter(col("batch_key") === key)
      .select("phase").collect().map(_.getString(0)).toSeq.sorted
  }

  private def fresh(owner: String): Unit = IndexCatalog.dropLedger(spark, owner)

  test("a fresh key runs appends(false) and leaves exactly intent and commit") {
    val owner = "ledgerfresh"
    fresh(owner)
    val calls = scala.collection.mutable.Buffer[Boolean]()
    IndexCatalog.ledgered(spark, owner, "17")(calls += _)
    assert(calls == Seq(false))
    assert(phases(owner, "17") == Seq("commit", "intent"))
    assert(spark.table(IndexCatalog.ledgerTable(owner)).count() == 2)
  }

  test("an append that throws leaves intent only, and the rerun repairs with appends(true)") {
    val owner = "ledgercrash"
    fresh(owner)
    val e = intercept[IllegalStateException] {
      IndexCatalog.ledgered(spark, owner, "id:3") { _ =>
        throw new IllegalStateException("injected crash")
      }
    }
    assert(e.getMessage == "injected crash")
    assert(phases(owner, "id:3") == Seq("intent"))
    val calls = scala.collection.mutable.Buffer[Boolean]()
    IndexCatalog.ledgered(spark, owner, "id:3")(calls += _)
    assert(calls == Seq(true))
    assert(phases(owner, "id:3") == Seq("commit", "intent"),
      "the repair commits without a second intent row")
  }

  test("a committed key never calls appends") {
    val owner = "ledgerdone"
    fresh(owner)
    IndexCatalog.ledgered(spark, owner, "5")(_ => ())
    var called = false
    IndexCatalog.ledgered(spark, owner, "5")(_ => called = true)
    assert(!called)
    assert(phases(owner, "5") == Seq("commit", "intent"))
    // A different key is a different batch.
    IndexCatalog.ledgered(spark, owner, "6")(_ => called = true)
    assert(called)
  }

  test("a key holding a quote goes through intent, commit and short-circuit") {
    val owner = "ledgerquote"
    val key = "h:it's ' OR '1'='1"
    fresh(owner)
    intercept[IllegalStateException] {
      IndexCatalog.ledgered(spark, owner, key)(_ => throw new IllegalStateException("injected crash"))
    }
    assert(phases(owner, key) == Seq("intent"))
    val calls = scala.collection.mutable.Buffer[Boolean]()
    IndexCatalog.ledgered(spark, owner, key)(calls += _)
    IndexCatalog.ledgered(spark, owner, key)(calls += _)
    assert(calls == Seq(true), "the repair runs once and the committed key short-circuits")
    assert(phases(owner, key) == Seq("commit", "intent"))
    assert(spark.table(IndexCatalog.ledgerTable(owner)).count() == 2)
  }

  test("a pre-existing ledger of another schema fails with the table's name") {
    val owner = "ledgerlegacy"
    val ledger = IndexCatalog.ledgerTable(owner)
    fresh(owner)
    spark.sql(s"CREATE TABLE $ledger (batch_id BIGINT, phase STRING) USING parquet")
    spark.sql(s"INSERT INTO $ledger VALUES (1, 'commit')")
    var called = false
    val e = intercept[IllegalStateException] {
      IndexCatalog.ledgered(spark, owner, "1")(_ => called = true)
    }
    assert(e.getMessage.contains(ledger), e.getMessage)
    assert(!called)
    assert(spark.table(ledger).count() == 1, "the foreign table must be left as it was")
  }

  test("a parquet ledger of the ledger's own columns fails, untouched, before appends run") {
    // Every index built before the keyed store carries this table.
    val owner = "ledgerparquet"
    val ledger = IndexCatalog.ledgerTable(owner)
    fresh(owner)
    spark.sql(s"CREATE TABLE $ledger (batch_key STRING, phase STRING) USING parquet")
    spark.sql(s"INSERT INTO $ledger VALUES ('1', 'intent'), ('1', 'commit')")
    val files = spark.table(ledger).inputFiles.toSeq.sorted
    var called = false
    val e = intercept[IllegalStateException] {
      IndexCatalog.ledgered(spark, owner, "2")(_ => called = true)
    }
    assert(e.getMessage.contains(ledger), e.getMessage)
    assert(!called)
    spark.catalog.refreshTable(ledger)
    assert(spark.table(ledger).inputFiles.toSeq.sorted == files)
    assert(phases(owner, "1") == Seq("commit", "intent"))
    assert(phases(owner, "2").isEmpty)
  }

  test("the ledger runs no Spark job on a fresh key, a repair or a committed key") {
    val owner = "ledgerjobs"
    fresh(owner)
    assert(jobsOf(IndexCatalog.ledgered(spark, owner, "1")(_ => ())) == 0)
    assert(jobsOf(IndexCatalog.ledgered(spark, owner, "1")(_ => ())) == 0)
    intercept[IllegalStateException] {
      IndexCatalog.ledgered(spark, owner, "2")(_ => throw new IllegalStateException("injected crash"))
    }
    val calls = scala.collection.mutable.Buffer[Boolean]()
    assert(jobsOf(IndexCatalog.ledgered(spark, owner, "2")(calls += _)) == 0)
    assert(calls == Seq(true))
    assert(phases(owner, "1") == Seq("commit", "intent"))
    assert(phases(owner, "2") == Seq("commit", "intent"))
  }

  /** checkpointKeyed's key, failing the test past a bounded wait. */
  private def keyOf(batch: => org.apache.spark.sql.DataFrame): Option[Long] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future(IndexCatalog.checkpointKeyed(batch)._2), 60.seconds)
  }

  test("checkpointKeyed keys an empty batch None, without waiting on its metrics") {
    import spark.implicits._
    val range = spark.range(0, 40, 1, 4).toDF("doc_id")
    assert(keyOf(spark.range(0).toDF("doc_id")).isEmpty)
    assert(keyOf(Seq.empty[Long].toDF("doc_id")).isEmpty)
    assert(keyOf(range.filter(col("doc_id") < 0)).isEmpty)
    assert(keyOf(range.join(range, Seq("doc_id"), "left_anti")).isEmpty)
  }

  test("checkpointKeyed returns the batch's rows and its min id, on the checkpoint's one job") {
    import spark.implicits._
    // Four tasks; the minimum sits in the last one.
    val spread = spark.range(0, 40, 1, 4).select((lit(100L) - col("id")).as("doc_id"))
    assert(spread.rdd.getNumPartitions == 4)
    var got: (org.apache.spark.sql.DataFrame, Option[Long]) = null
    assert(jobsOf { got = IndexCatalog.checkpointKeyed(spread) } == 1)
    assert(got._2 == Some(61L))
    assert(got._1.as[Long].collect().sorted.toSeq == (61L to 100L))
    val local = Seq(7L, 3L, 9L).toDF("vec_id")
    val (rows, key) = IndexCatalog.checkpointKeyed(local, "vec_id")
    assert(key == Some(3L))
    assert(rows.as[Long].collect().sorted.toSeq == Seq(3L, 7L, 9L))
  }

  private def appendTables(owner: String, names: String*): Unit = {
    fresh(owner)
    names.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS ${owner}_$n")
      spark.sql(s"CREATE TABLE ${owner}_$n (doc_id BIGINT) USING parquet")
    }
  }

  private def ids(owner: String, name: String): Seq[Long] = {
    spark.catalog.refreshTable(s"${owner}_$name")
    spark.table(s"${owner}_$name").collect().map(_.getLong(0)).toSeq.sorted
  }

  test("ledgeredAppends on a fresh key runs every append in group order and no guard") {
    import spark.implicits._
    val owner = "appendsfresh"
    appendTables(owner, "a", "b", "c")
    val batch = Seq(1L, 2L, 3L).toDF("doc_id")
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val guarded = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def to(t: String) = new IndexCatalog.Append(t, { ran.add(t); batch }, Some { (table: String) =>
      guarded.add(table); false
    })
    // The default guard's probe would fail on this frame if it ran.
    val poisoned = spark.range(1).select(raise_error(lit("probe ran")).as("doc_id"))
    IndexCatalog.ledgeredAppends(spark, owner, 1L, poisoned) { append =>
      append(to("a"), to("b"))
      append(new IndexCatalog.Append("c", { ran.add("c"); batch }))
    }
    assert(guarded.isEmpty, s"guards ran on a fresh key: $guarded")
    val order = ran.asScala.toSeq
    assert(order.take(2).toSet == Set("a", "b") && order.drop(2) == Seq("c"), order)
    Seq("a", "b", "c").foreach(t => assert(ids(owner, t) == Seq(1L, 2L, 3L), t))
    assert(phases(owner, "1") == Seq("commit", "intent"))
  }

  test("a repairing ledgeredAppends re-runs only the appends its guards find missing") {
    import spark.implicits._
    val owner = "appendsrepair"
    appendTables(owner, "a", "b", "c", "d")
    val batch = Seq(1L, 2L, 3L).toDF("doc_id")
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def to(t: String, landed: Option[String => Boolean] = None) =
      new IndexCatalog.Append(t, { ran.add(t); batch }, landed)
    intercept[IllegalStateException] {
      IndexCatalog.ledgeredAppends(spark, owner, 1L, batch) { append =>
        append(to("a"))
        throw new IllegalStateException("injected crash")
      }
    }
    assert(phases(owner, "1") == Seq("intent"))
    ran.clear()
    val guarded = scala.collection.mutable.Buffer[String]()
    IndexCatalog.ledgeredAppends(spark, owner, 1L, batch) { append =>
      // a: landed, found by the default probe; b: missing; d: its own
      // guard says landed; c, the last group: its own guard says missing.
      append(to("a"), to("b"), to("d", Some(t => { guarded += t; true })))
      append(to("c", Some(t => { guarded += t; false })))
    }
    assert(ran.asScala.toSeq == Seq("b", "c"))
    assert(guarded == Seq(s"${owner}_d", s"${owner}_c"))
    Seq("a", "b", "c").foreach(t => assert(ids(owner, t) == Seq(1L, 2L, 3L), t))
    assert(ids(owner, "d").isEmpty)
    assert(phases(owner, "1") == Seq("commit", "intent"))
  }

  test("a failing append in a concurrent group surfaces only after the others finish") {
    import spark.implicits._
    val owner = "appendsfail"
    appendTables(owner, "slow", "late")
    val batch = Seq(1L).toDF("doc_id")
    val nap = udf { (x: Long) => Thread.sleep(500); x }
    def slow = spark.range(1, 4, 1, 1).select(nap(col("id")).as("doc_id"))
    def boom = new IndexCatalog.Append("boom", throw new IllegalStateException("injected crash"))
    // The failure on this thread waits for the other append's write.
    val e = intercept[IllegalStateException] {
      IndexCatalog.ledgeredAppends(spark, owner, 1L, batch) { append =>
        append(new IndexCatalog.Append("slow", slow), boom)
      }
    }
    assert(e.getMessage == "injected crash")
    assert(ids(owner, "slow") == Seq(1L, 2L, 3L), "the concurrent append must have landed")
    assert(phases(owner, "1") == Seq("intent"))
    // A failure on the other thread arrives as itself, after this
    // thread's append.
    val e2 = intercept[IllegalStateException] {
      IndexCatalog.ledgeredAppends(spark, owner, 2L, batch) { append =>
        append(boom, new IndexCatalog.Append("late", slow))
      }
    }
    assert(e2.getMessage == "injected crash")
    assert(ids(owner, "late") == Seq(1L, 2L, 3L))
    assert(phases(owner, "2") == Seq("intent"))
  }

  test("an append of another session's frame is visible to the caller's next read") {
    import spark.implicits._
    val t = "appendsession"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT) USING parquet")
    IndexCatalog.append(spark, t, Seq(1L).toDF("doc_id"))
    assert(spark.table(t).count() == 1)
    // A foreachBatch frame belongs to the stream's own session: its
    // insertInto refreshes that session's file listing, not this one's.
    val other = spark.newSession().createDataFrame(Seq(Tuple1(2L))).toDF("doc_id")
    IndexCatalog.append(spark, t, other)
    assert(spark.table(t).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("staged rewrites keep the live table's bucket and sort columns") {
    import spark.implicits._
    val t = "layoutkeep"
    val plain = "layoutplain"
    Seq(t, plain).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    (0 until 200).map(i => (i % 7, i % 5, i.toLong)).toDF("a", "b", "c")
      .write.bucketBy(4, "a", "b").sortBy("a", "c").saveAsTable(t)
    def layout = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).bucketSpec
    def rows = spark.table(t).collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val expected = BucketSpec(8, Seq("a", "b"), Seq("a", "c"))
    val built = rows
    val one = IndexCatalog.Family(Seq(""))

    one.rebucket(spark, t, 8)
    assert(layout.contains(expected))
    assert(rows == built)

    Seq((3, 4, 1000L)).toDF("a", "b", "c").write.mode("append").insertInto(t)
    spark.catalog.refreshTable(t)
    assert(IndexCatalog.maxFilesPerBucket(spark, t) == 2)
    assert(one.compact(spark, t, 1) == Seq(t))
    assert(layout.contains(expected))
    assert(IndexCatalog.maxFilesPerBucket(spark, t) == 1, "compaction writes one file per bucket")
    assert(spark.table(t).inputFiles.length <= 8)
    assert(rows == (built :+ ((3, 4, 1000L))).sorted)

    Seq((1, 2, 3L)).toDF("a", "b", "c").write.saveAsTable(plain)
    val e = intercept[RuntimeException](IndexCatalog.stageTable(spark, plain, 4))
    assert(e.getMessage.contains(plain), e.getMessage)
    assert(!spark.catalog.tableExists(s"${plain}_rebucket"))
  }

  test("each family's fileStats lists its tables by name, in order") {
    import spark.implicits._
    import graft.operators.{LshIndexOps, MediaIndexOps, MultimodalOps, SearchIndexOps, VectorIndexOps}
    def names(stats: org.apache.spark.sql.DataFrame) = stats.select("table").as[String].collect().toSeq
    def drop(owner: String, tables: String*): Unit =
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $owner$t"))
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")

    val lsh = "statslsh"
    drop(lsh, "_docs", "_bands", "_meta", "_batches")
    LshIndexOps.writeIndex(docs, 3, 32, 8, buckets = 2, prefix = lsh)
    LshIndexOps.writeMetaTable(docs, buckets = 2, prefix = lsh)
    assert(names(IndexCatalog.LshIndex.fileStats(spark, lsh)) ==
      Seq("_docs", "_bands", "_meta").map(lsh + _))

    val media = "statsmedia"
    drop(media, "_fps", "_chunks", "_meta", "_batches")
    val payloads = MultimodalOps.encodeMedia(Tables.documents(spark, Sf))
    MediaIndexOps.writeIndex(payloads, 49, 6, buckets = 2, prefix = media)
    MediaIndexOps.writeMetaTable(payloads, buckets = 2, prefix = media)
    assert(names(IndexCatalog.MediaIndex.fileStats(spark, media)) ==
      Seq("_fps", "_chunks", "_meta").map(media + _))

    val search = "statssearch"
    drop(search, "_postings", "_lexicon", "_docs", "_meta", "_batches")
    SearchIndexOps.writeIndex(docs.filter(col("doc_id") % 2 === 0), buckets = 2, prefix = search)
    SearchIndexOps.indexBatch(spark, search, docs.filter(col("doc_id") % 2 === 1))
    assert(names(IndexCatalog.SearchIndex.fileStats(spark, search)) ==
      Seq("_postings", "_lexicon", "_docs", "_meta", "_batches").map(search + _))

    val vec = "statsvec"
    drop(vec, "_codebook", "_vectors", "_cellstats", "_pq_codebook", "_codes", "_batches")
    val emb = Tables.embeddings(spark, Sf)
    VectorIndexOps.writeIndex(
      emb.filter(col("vec_id") % 2 === 0), dim = 64, isSeed = col("vec_id") < 8,
      iters = 2, buckets = 2, prefix = vec)
    val pqCb = graft.operators.SimilarityOps.trainCodebook(
      emb, blocks = 4, subDim = 16, isSeed = col("vec_id") < 8, iters = 2)
    VectorIndexOps.writePqCodes(
      emb, pqCb, blocks = 4, subDim = 16, nSeeds = 8, buckets = 2, prefix = vec)
    VectorIndexOps.ingestBatch(spark, vec, emb.filter(col("vec_id") % 2 === 1), batchId = 1L)
    assert(names(IndexCatalog.VectorIndex.fileStats(spark, vec)) ==
      Seq("_vectors", "_codes", "_codebook", "_pq_codebook", "_batches").map(vec + _))
  }

  test("stream hands perBatch each batch id once, and a restart on its checkpoint replays no committed batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("catalog_stream").toFile.getAbsolutePath
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]
    def run(waves: Seq[Long]*): Unit = {
      val q = IndexCatalog.stream(in.toDF(), ckpt)((batch, id) =>
        seen.add(id -> batch.as[Long].collect().toSeq.sorted))
      try waves.foreach { w => in.addData(w); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(1L, 2L), Seq(3L))
    run(Seq(4L))
    assert(seen.asScala.toSeq == Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L), 2L -> Seq(4L)))
  }

  private def keys(rows: Option[Array[org.apache.spark.sql.Row]]): Option[Seq[Long]] =
    rows.map(_.map(_.getLong(0)).toSeq.sorted)

  test("capped returns every row at the cap and None one row past it") {
    import spark.implicits._
    val cap = 50
    val all = Some((1L to cap).toSeq)
    // A local frame, and a one-task scan whose share is the whole cap.
    def local(n: Int) = (1L to n).toDF("k")
    def scan(n: Int) = spark.range(1, n + 1, 1, 1).toDF("k")
    assert(keys(IndexCatalog.capped(local(cap), cap)) == all)
    assert(IndexCatalog.capped(local(cap + 1), cap).isEmpty)
    assert(keys(IndexCatalog.capped(scan(cap), cap)) == all)
    assert(IndexCatalog.capped(scan(cap + 1), cap).isEmpty)
    assert(keys(IndexCatalog.capped(scan(0), cap)) == Some(Nil))
  }

  test("capped returns None when one task holds more than its share of the cap") {
    // Four tasks holding 10, 3, 0 and 0 rows: at cap 20 each task's
    // share is 5, so the first task overflows although 13 rows < 20.
    val hot = spark.range(0, 40, 1, 4).toDF("k").filter(col("k") < 13)
    assert(hot.rdd.getNumPartitions == 4)
    assert(IndexCatalog.capped(hot, 20).isEmpty)
    assert(keys(IndexCatalog.capped(hot, 40)) == Some((0L until 13L).toSeq))
  }

  test("capped collects a local frame with no Spark job, any other frame in one") {
    import spark.implicits._
    // A projection over a Seq is not a bare LocalRelation until optimized.
    val local = Seq(3L, 1L, 2L).toDF("k").select((col("k") * 2).as("k"))
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsOf { got = IndexCatalog.capped(local, 10) } == 0)
    assert(keys(got) == Some(Seq(2L, 4L, 6L)))
    assert(jobsOf { got = IndexCatalog.capped(spark.range(0, 6, 1, 3).toDF("k"), 10) } == 1)
    assert(keys(got) == Some((0L until 6L).toSeq))
  }

  test("present sees a row appended through insertInto after its first read") {
    import spark.implicits._
    val t = "presentprobe"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v").write.bucketBy(4, "k").saveAsTable(t)
    assert(IndexCatalog.present(spark, t, "k", Seq(7L, 99L)))
    assert(!IndexCatalog.present(spark, t, "k", Seq(42L, 99L)))
    Seq((42L, "late")).toDF("k", "v").write.mode("append").insertInto(t)
    assert(IndexCatalog.present(spark, t, "k", Seq(42L)))
    // Another session appends, as a concurrent ingest would: this
    // session's cached file listing, taken by the probe above, predates
    // the new file.
    spark.newSession().createDataFrame(Seq((43L, "later"))).toDF("k", "v")
      .write.mode("append").insertInto(t)
    assert(IndexCatalog.present(spark, t, "k", Seq(43L)))
    assert(IndexCatalog.keyed(spark, t, "k", Seq(42L, 43L, 99L)).select("v").as[String]
      .collect().sorted.toSeq == Seq("late", "later"))
  }
}
