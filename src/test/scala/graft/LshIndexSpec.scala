package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, IndexCatalog, LshIndexOps}

/** The persisted LSH index artifact (LshIndexOps): pairs computed from
  * the stored bucketed tables must be IDENTICAL to the single-pass
  * operator's, the candidate self-join must read the bucketed band table
  * without any exchange, neither verify join may shuffle the `_docs`
  * side, and incremental dedup against the index must flag a planted
  * near-duplicate without touching stored text.
  */
class LshIndexSpec extends SparkSpec {

  private val N = 3
  private val K = 32
  private val Bands = 8
  private val Threshold = 0.8
  private val Prefix = "lshix"

  private def buildOnce(): Unit =
    if (!spark.catalog.tableExists(s"${Prefix}_bands")) {
      LshIndexOps.writeIndex(
        Tables.documents(spark, Sf), N, K, Bands, buckets = 4, prefix = Prefix,
      )
    }

  /** Runs `body` with broadcast joins and AQE off: exchange elision is
    * a static EnsureRequirements property, and with AQE off
    * executedPlan is the final physical tree, not an adaptive shell.
    */
  private def staticPlans(body: => Unit): Unit = {
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("near-dup pairs from the stored index equal the single-pass operator's") {
    buildOnce()
    val fromIndex = LshIndexOps.nearDupPairs(spark, Prefix, Threshold)
    val singlePass = DedupOps.minhashLshPairs(Tables.documents(spark, Sf), N, K, Bands, Threshold)
    assert(fromIndex.count() > 0, "test corpus should contain near-dups")
    assert(
      fromIndex.exceptAll(singlePass).isEmpty && singlePass.exceptAll(fromIndex).isEmpty,
      "index-derived pairs must match the single-pass pipeline",
    )
  }

  test("the candidate self-join over the bucketed band table is exchange-free") {
    buildOnce()
    staticPlans {
      // The raw self-join (before the distinct, whose shuffle is its own
      // stage and legitimately present).
      val bandsDf = spark.table(s"${Prefix}_bands")
      val joined = bandsDf
        .as("x")
        .join(
          bandsDf.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"),
        )
      assert(joined.count() > 0)
      // The scan's HashPartitioning(band_idx, band_key) is exactly the
      // join's required clustering on both sides, so EnsureRequirements
      // must not insert any exchange below the join.
      val plan = joined.queryExecution.executedPlan.toString
      assert(
        plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled join over the band table:\n$plan",
      )
      assert(!plan.contains("Exchange"), s"bucketed band self-join must not shuffle:\n$plan")
    }
  }

  test("both verify joins of nearDupPairs read the bucketed _docs table with no exchange above its scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnaryExecNode}
    import org.apache.spark.sql.execution.exchange.Exchange
    buildOnce()
    staticPlans {
      val plan = LshIndexOps.nearDupPairs(spark, Prefix, Threshold).queryExecution.executedPlan
      def isDocsScan(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == s"${Prefix}_docs")
        case _ => false
      }
      // What an operator reads through single-child operators (project,
      // filter, sort, codegen wrappers).
      @annotation.tailrec def source(p: SparkPlan): SparkPlan = p match {
        case u: UnaryExecNode => source(u.child)
        case _ => p
      }
      val shuffledDocs = plan.collect { case e: Exchange if isDocsScan(source(e.child)) => e }
      assert(shuffledDocs.isEmpty, s"the _docs side of a verify join must not shuffle:\n$plan")
      assert(plan.collectLeaves().count(isDocsScan) == 2, s"one _docs scan per verify join:\n$plan")
    }
  }

  test("streaming dedup flags dups against index + earlier arrivals and grows the index with keepers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val prefix = "lshstream"
    Seq(s"${prefix}_docs", s"${prefix}_bands").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val cut = docs(docs.length / 2)._1
    val (indexed, streamed) = docs.partition(_._1 < cut)
    LshIndexOps.writeIndex(
      indexed.toSeq.toDF("doc_id", "text"), N, K, Bands, buckets = 4, prefix = prefix)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.Buffer[(Long, Long, Double)]()
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_stream").toFile.getAbsolutePath
    val q = LshIndexOps.streamingDedup(
      spark, prefix, in.toDF().toDF("doc_id", "text"), N, K, Bands, buckets = 4,
      threshold = Threshold, checkpoint = ckpt,
      onDups = (d, _) => collected ++= d.as[(Long, Long, Double)].collect(),
    )
    // Three arrival waves, ascending doc_id.
    val waves = streamed.grouped(streamed.length / 3 + 1).toSeq
    try waves.foreach { w => in.addData(w.toSeq); q.processAllAvailable() }
    finally q.stop()
    // Independent expectation: greedy simulation of the documented match
    // rule over the single-pass operator's pair set (itself pinned by
    // its own DuckDB oracle).
    val pairs = DedupOps
      .minhashLshPairs(Tables.documents(spark, Sf), N, K, Bands, Threshold)
      .as[(Long, Long, Double)].collect() // doc_a < doc_b
    val wave = streamed.zipWithIndex.flatMap { case ((id, _), i) =>
      Some(id -> waves.indexWhere(_.exists(_._1 == id)))
    }.toMap
    val kept = scala.collection.mutable.Set(indexed.map(_._1): _*)
    val expected = scala.collection.mutable.Buffer[(Long, Long, Double)]()
    streamed.map(_._1).foreach { x =>
      val rows = pairs.collect {
        case (a, b, j) if b == x && (wave.get(a) match {
              case None => kept.contains(a) // indexed corpus: keepers only
              case Some(wa) if wa < wave(x) => kept.contains(a) // earlier wave: keepers only
              case Some(wa) => wa == wave(x) // same wave: any lower id
            }) => (x, a, j)
      }
      if (rows.isEmpty) kept += x else expected ++= rows
    }
    assert(collected.nonEmpty, "stream should observe near-dups")
    assert(collected.toSet == expected.toSet,
      s"stream dups mismatch:\n got ${collected.sorted.mkString(", ")}\n exp ${expected.sorted.mkString(", ")}")
    // The index grew by exactly the kept streamed docs.
    val storedIds = spark.table(s"${prefix}_docs").select("doc_id").as[Long].collect().toSet
    assert(storedIds == kept.toSet, "index must contain exactly the keepers")
  }

  test("crash between bands and docs appends is repaired on replay: keepers keep their bands") {
    import spark.implicits._
    val prefix = "lshcrash"
    Seq(s"${prefix}_docs", s"${prefix}_bands", s"${prefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val cut = docs(docs.length / 2)._1
    val (indexed, streamed) = docs.partition(_._1 < cut)
    LshIndexOps.writeIndex(
      indexed.toSeq.toDF("doc_id", "text"), N, K, Bands, buckets = 4, prefix = prefix)
    val batch = streamed.toSeq.toDF("doc_id", "text")
    // The kill: the keepers' bands land, the docs membership rows do
    // not. Under the OLD docs-first order the mirror-image crash left
    // keepers in docs with no bands — permanently invisible to every
    // future candidate join, and unrepairable because the kept
    // anti-join hid them.
    val crash = intercept[IllegalStateException] {
      LshIndexOps.dedupBatchAndGrow(
        spark, prefix, batch, N, K, Bands, threshold = Threshold,
        crashAfter = "bands")
    }
    assert(crash.getMessage.contains("bands"))
    val bandsAfterCrash = spark.table(s"${prefix}_bands").count()
    assert(spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    // Replay the same batch: intent-without-commit → presence-guarded
    // repair. Bands must not double; docs must land; dups re-emitted
    // identically (keepers never verify against each other, so their
    // own stored bands add nothing).
    val replayDups = LshIndexOps.dedupBatchAndGrow(
      spark, prefix, batch, N, K, Bands, threshold = Threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(spark.table(s"${prefix}_bands").count() == bandsAfterCrash,
      "repair must not re-append the bands that survived the crash")
    assert(!replayDups.exists(d => d._1 == d._2), "no self-dups on the repair replay")
    // The repaired index equals a clean uninterrupted build+grow.
    val cleanPrefix = "lshcrashref"
    Seq(s"${cleanPrefix}_docs", s"${cleanPrefix}_bands", s"${cleanPrefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    LshIndexOps.writeIndex(
      indexed.toSeq.toDF("doc_id", "text"), N, K, Bands, buckets = 4, prefix = cleanPrefix)
    val cleanDups = LshIndexOps.dedupBatchAndGrow(
      spark, cleanPrefix, batch, N, K, Bands, threshold = Threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(replayDups == cleanDups, "replayed dups must equal the uninterrupted run's")
    val repairedPairs = LshIndexOps.nearDupPairs(spark, prefix, Threshold)
    val cleanPairs = LshIndexOps.nearDupPairs(spark, cleanPrefix, Threshold)
    assert(
      repairedPairs.exceptAll(cleanPairs).isEmpty && cleanPairs.exceptAll(repairedPairs).isEmpty,
      "repaired index must serve pairs identical to the uninterrupted run")
    // A further replay of the committed batch is a no-op on the store.
    val done = spark.table(s"${prefix}_bands").count()
    LshIndexOps.dedupBatchAndGrow(
      spark, prefix, batch, N, K, Bands, threshold = Threshold)
    assert(spark.table(s"${prefix}_bands").count() == done)
  }

  test("text crash between meta and docs appends is repaired on replay without doubling meta") {
    // The text twin of MediaIndexSpec's crash-after-meta test: bands
    // and meta landed, the docs membership rows did not — the replay
    // must presence-probe meta (not re-append it) and complete docs,
    // converging to the uninterrupted run.
    import spark.implicits._
    val prefix = "lshcrashmeta"
    Seq(s"${prefix}_docs", s"${prefix}_bands", s"${prefix}_meta", s"${prefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val all = Tables.documents(spark, Sf).select("doc_id", "text")
    val stored = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    LshIndexOps.writeIndex(stored, N, K, Bands, buckets = 4, prefix = prefix)
    LshIndexOps.writeMetaTable(stored, buckets = 4, prefix = prefix)
    intercept[IllegalStateException] {
      LshIndexOps.dedupBatchAndGrow(
        spark, prefix, batch, N, K, Bands, threshold = Threshold,
        crashAfter = "meta")
    }
    val metaAfterCrash = spark.table(s"${prefix}_meta").count()
    assert(spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    LshIndexOps.dedupBatchAndGrow(
      spark, prefix, batch, N, K, Bands, threshold = Threshold)
    assert(spark.table(s"${prefix}_meta").count() == metaAfterCrash,
      "repair must not re-append the meta rows that survived the crash")
    assert(!spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    // Every admitted doc carries exactly one meta row, and the repaired
    // meta equals an uninterrupted run's.
    val docIds = spark.table(s"${prefix}_docs").select("doc_id")
    val metaIds = spark.table(s"${prefix}_meta").select("doc_id")
    assert(docIds.exceptAll(metaIds).isEmpty, "every member must carry a meta row")
    assert(metaIds.count() == metaIds.distinct().count(), "meta rows must be unique per doc")
    val cleanPrefix = "lshcrashmetaref"
    Seq(s"${cleanPrefix}_docs", s"${cleanPrefix}_bands", s"${cleanPrefix}_meta",
      s"${cleanPrefix}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    LshIndexOps.writeIndex(stored, N, K, Bands, buckets = 4, prefix = cleanPrefix)
    LshIndexOps.writeMetaTable(stored, buckets = 4, prefix = cleanPrefix)
    LshIndexOps.dedupBatchAndGrow(
      spark, cleanPrefix, batch, N, K, Bands, threshold = Threshold)
    val repaired = spark.table(s"${prefix}_meta")
    val clean = spark.table(s"${cleanPrefix}_meta")
    assert(repaired.exceptAll(clean).isEmpty && clean.exceptAll(repaired).isEmpty,
      "repaired meta must equal the uninterrupted run's — exactly-once under crash/replay")
  }

  test("crash with meta landed but not bands is repaired on replay: bands appended once, meta never doubled") {
    // The bands and meta appends run concurrently, so a crash before
    // the docs commit marker can also leave meta landed without bands.
    import spark.implicits._
    val prefix = "lshcrashmetaonly"
    val cleanPrefix = "lshcrashmetaonlyref"
    Seq(prefix, cleanPrefix).foreach(p => Seq("_docs", "_bands", "_meta", "_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $p$t")))
    val all = Tables.documents(spark, Sf).select("doc_id", "text")
    val stored = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    Seq(prefix, cleanPrefix).foreach { p =>
      LshIndexOps.writeIndex(stored, N, K, Bands, buckets = 4, prefix = p)
      LshIndexOps.writeMetaTable(stored, buckets = 4, prefix = p)
    }
    def rows(p: String, t: String) = spark.table(s"$p$t").count()
    val (bandsBefore, metaBefore) = (rows(prefix, "_bands"), rows(prefix, "_meta"))
    intercept[IllegalStateException] {
      LshIndexOps.dedupBatchAndGrow(
        spark, prefix, batch, N, K, Bands, threshold = Threshold,
        crashAfter = "meta-only")
    }
    val metaAfterCrash = rows(prefix, "_meta")
    assert(rows(prefix, "_bands") == bandsBefore, "the injected state has no bands appended")
    assert(metaAfterCrash > metaBefore, "the injected state has the meta rows appended")
    assert(spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
    val replayDups = LshIndexOps.dedupBatchAndGrow(
      spark, prefix, batch, N, K, Bands, threshold = Threshold)
      .as[(Long, Long, Double)].collect().toSet
    val kept = metaAfterCrash - metaBefore
    assert(rows(prefix, "_meta") == metaAfterCrash, "repair must not re-append meta")
    assert(rows(prefix, "_bands") == bandsBefore + kept * Bands,
      "repair appends the keepers' bands exactly once")
    val cleanDups = LshIndexOps.dedupBatchAndGrow(
      spark, cleanPrefix, batch, N, K, Bands, threshold = Threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(replayDups == cleanDups, "replayed dups must equal the uninterrupted run's")
    Seq("_docs", "_bands", "_meta").foreach { t =>
      val (repaired, clean) = (spark.table(s"$prefix$t"), spark.table(s"$cleanPrefix$t"))
      assert(repaired.exceptAll(clean).isEmpty && clean.exceptAll(repaired).isEmpty,
        s"repaired $t must equal the uninterrupted run's")
    }
  }

  test("appends stay bucketed across a rebucket: the grown band self-join is exchange-free, each append adds at most one file per bucket") {
    val prefix = "lshappendbkt"
    val buckets = 4
    def bucketsOf(t: String) = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
      .bucketSpec.map(_.numBuckets).getOrElse(0)
    Seq("_docs", "_bands", "_meta", "_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $prefix$t"))
    val all = Tables.documents(spark, Sf).select("doc_id", "text")
    LshIndexOps.writeIndex(all.filter(col("doc_id") % 3 === 0), N, K, Bands, buckets, prefix)
    LshIndexOps.writeMetaTable(all.filter(col("doc_id") % 3 === 0), buckets, prefix)
    val tables = Seq("_docs", "_bands", "_meta").map(prefix + _)
    def files(): Map[String, Int] = tables.map { t =>
      spark.catalog.refreshTable(t)
      t -> spark.table(t).inputFiles.length
    }.toMap
    assert(IndexCatalog.LshIndex.fileStats(spark, prefix).count() == 3)
    Seq(1, 2).foreach { r =>
      // The second append follows a rebucket of docs and bands: appends
      // take the live spec.
      if (r == 2) IndexCatalog.LshIndex.rebucket(spark, prefix, 2 * buckets)
      val before = files()
      val rowsBefore = spark.table(s"${prefix}_docs").count()
      LshIndexOps.dedupBatchAndGrow(
        spark, prefix, all.filter(col("doc_id") % 3 === r), N, K, Bands, Threshold)
      assert(spark.table(s"${prefix}_docs").count() > rowsBefore, s"append $r admitted no keepers")
      val after = files()
      tables.foreach { t =>
        assert(after(t) - before(t) <= bucketsOf(t),
          s"append $r added ${after(t) - before(t)} files to $t (buckets = ${bucketsOf(t)})")
      }
    }
    staticPlans {
      val bandsDf = spark.table(s"${prefix}_bands")
      val joined = bandsDf.as("x").join(
        bandsDf.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"),
      ).select(col("x.doc_id"), col("y.doc_id"))
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
        "the grown band self-join must not shuffle")
      // Every appended row sits in the file of its own bucket: the
      // exchange-free join finds exactly the pairs of an unbucketed read.
      val bucketed = joined.collect().toSet
      spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
      val unbucketed = try joined.collect().toSet
      finally spark.conf.unset("spark.sql.sources.bucketing.enabled")
      assert(bucketed.nonEmpty && bucketed == unbucketed)
    }
    // _meta is maintained with docs and bands: compaction collapses its
    // appends to one file per bucket and keeps its rows.
    val meta = s"${prefix}_meta"
    val metaRows = spark.table(meta).collect().toSeq.sortBy(_.getLong(0))
    assert(IndexCatalog.LshIndex.compact(spark, prefix, 1).contains(meta))
    val stats = IndexCatalog.LshIndex.fileStats(spark, prefix).filter(col("table") === meta).collect()
    assert(stats.map(_.getLong(2)).toSeq == Seq(1L), s"$meta not compacted: ${stats.mkString}")
    assert(spark.table(meta).collect().toSeq.sortBy(_.getLong(0)) == metaRows)
  }

  test("text upload verdict ranking: exact before near, then highest Jaccard, then the smallest stored id") {
    import spark.implicits._
    val prefix = "lshverdictrank"
    Seq("_docs", "_bands", "_meta", "_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $prefix$t"))
    val rnd = new scala.util.Random(7)
    def text(): Array[String] = Array.fill(100)(Iterator.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString)
    def edit(words: Array[String], at: Int*): String =
      words.indices.map(i => if (at.contains(i)) s"edit$i" else words(i)).mkString(" ")
    val t = text() // stored exactly twice (ids 5, 10) and near-copied at id 1
    val b = text() // stored exactly twice (ids 20, 30); near-copied at id 15
    val probeNear = edit(b, 50) // one edit from ids 20/30, three from id 15
    val storedDocs = Seq(
      1L -> edit(t, 40), 5L -> t.mkString(" "), 10L -> t.mkString(" "),
      15L -> edit(b, 20, 50, 80), 20L -> b.mkString(" "), 30L -> b.mkString(" "),
    ).toDF("doc_id", "text")
    LshIndexOps.writeIndex(storedDocs, N, K, Bands, buckets = 4, prefix = prefix)
    LshIndexOps.writeMetaTable(storedDocs, buckets = 4, prefix = prefix)
    val probes = Seq(
      100L -> t.mkString(" "), // exact copy of 5 and 10, near copy of 1
      101L -> probeNear,
      102L -> "too few tokens here",
      103L -> text().mkString(" "),
    ).toDF("doc_id", "text")
    val got = LshIndexOps.uploadVerdict(spark, prefix, probes, N, K, Bands, Threshold, minTok = 10L)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq(
      (100L, "exact_dup", Some(5L)),
      (101L, "near_dup", Some(20L)),
      (102L, "too_short", None),
      (103L, "keep", None)))
    // The near probe really matches every candidate it is ranked against.
    val near = LshIndexOps.dedupAgainstIndex(spark, prefix, probes, N, K, Bands, Threshold)
      .as[(Long, Long, Double)].collect()
    assert(near.filter(_._1 == 100L).map(_._2).toSet == Set(1L, 5L, 10L))
    val j = near.filter(_._1 == 101L).map(r => r._2 -> r._3).toMap
    assert(j.keySet == Set(15L, 20L, 30L) && j(20L) == j(30L) && j(15L) < j(20L))
  }

  /** A stored corpus with exact copies (ids 5/10 and 20/30) and near
    * copies (ids 1 and 15) of two random texts, under `prefix` with its
    * `_meta` table. Returns the two texts and a probe one edit from 20
    * and 30 (tied), three from 15.
    */
  private def verdictFixture(prefix: String): (String, String, String) = {
    import spark.implicits._
    Seq("_docs", "_bands", "_meta", "_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $prefix$t"))
    val rnd = new scala.util.Random(7)
    def text(): Array[String] = Array.fill(100)(Iterator.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString)
    def edit(words: Array[String], at: Int*): String =
      words.indices.map(i => if (at.contains(i)) s"edit$i" else words(i)).mkString(" ")
    val (t, b) = (text(), text())
    val storedDocs = Seq(
      1L -> edit(t, 40), 5L -> t.mkString(" "), 10L -> t.mkString(" "),
      15L -> edit(b, 20, 50, 80), 20L -> b.mkString(" "), 30L -> b.mkString(" "),
    ).toDF("doc_id", "text")
    LshIndexOps.writeIndex(storedDocs, N, K, Bands, buckets = 4, prefix = prefix)
    LshIndexOps.writeMetaTable(storedDocs, buckets = 4, prefix = prefix)
    (t.mkString(" "), b.mkString(" "), edit(b, 50))
  }

  test("the bounded and distributed upload verdicts give identical rows and schema") {
    import spark.implicits._
    val prefix = "lshverdictpaths"
    val (t, b, probeNear) = verdictFixture(prefix)
    val other = "an unrelated upload with no stored neighbour at all in the index"
    // A stored doc whose band rows sit one band index over: every key of
    // its probe is stored, but no (band_idx, band_key) pair is.
    val shifted = "a stored document whose band keys were filed under the wrong band index"
    LshIndexOps.writeIndex(Seq(50L -> shifted).toDF("doc_id", "text"), N, K, Bands, 4, s"${prefix}src")
    spark.table(s"${prefix}src_bands")
      .select(col("doc_id"), ((col("band_idx") + 1) % Bands).as("band_idx"), col("band_key"))
      .write.mode("append").insertInto(s"${prefix}_bands")
    spark.table(s"${prefix}src_docs").write.mode("append").insertInto(s"${prefix}_docs")
    Seq("_bands", "_docs").foreach(t => spark.catalog.refreshTable(prefix + t))
    val probeSets: Seq[(String, Seq[(Long, String)])] = Seq(
      "ranking" -> Seq(100L -> t, 101L -> probeNear, 102L -> "too few tokens here", 103L -> other),
      "repeated doc_id" -> Seq(
        200L -> "too few tokens here", 200L -> probeNear, 201L -> "short one", 201L -> other,
        202L -> other, 202L -> b),
      "null text" -> Seq(300L -> null, 301L -> t),
      "only null text" -> Seq(302L -> null),
      "empty" -> Nil,
      "no candidates" -> Seq(400L -> other, 401L -> "tiny"),
      "band_idx mismatch" -> Seq(500L -> shifted),
    )
    probeSets.foreach { case (name, rows) =>
      val probe = rows.toDF("doc_id", "text")
      def verdict(cap: Int) =
        LshIndexOps.uploadVerdict(spark, prefix, probe, N, K, Bands, Threshold, minTok = 10L, cap = cap)
      val (bounded, distributed) = (verdict(1000), verdict(-1))
      assert(bounded.schema == distributed.schema, s"$name: schema differs")
      // Rows of a repeated doc_id may come in either order.
      def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toString).sorted
      assert(sorted(bounded) == sorted(distributed), s"$name: rows differ")
      assert(bounded.collect().map(_.get(0)).toSeq == rows.map(_._1).sorted, s"$name: order")
    }
    def got(set: Int) = LshIndexOps.uploadVerdict(
      spark, prefix, probeSets(set)._2.toDF("doc_id", "text"), N, K, Bands, Threshold, minTok = 10L)
      .as[(Long, String, Option[Long])].collect().toSet
    assert(got(1) == Set((200L, "near_dup", Some(20L)), (201L, "too_short", None),
      (201L, "keep", None), (202L, "exact_dup", Some(20L))))
    assert(got(6) == Set((500L, "keep", None)))
  }

  test("a 4-document upload verdict from a local Seq runs at most 2 Spark jobs") {
    import spark.implicits._
    val prefix = "lshverdictjobs"
    val (t, _, probeNear) = verdictFixture(prefix)
    val probe = Seq(100L -> t, 101L -> probeNear, 102L -> "too few tokens here", 103L -> "keep me")
      .toDF("doc_id", "text")
    val bounded = jobsOf(
      LshIndexOps.uploadVerdict(spark, prefix, probe, N, K, Bands, Threshold, minTok = 10L).collect())
    val distributed = jobsOf(
      LshIndexOps.uploadVerdict(spark, prefix, probe, N, K, Bands, Threshold, 10L, cap = -1).collect())
    assert(bounded <= 2, s"bounded verdict ran $bounded jobs")
    assert(distributed > bounded, s"the listener saw $distributed distributed jobs")
  }

  test("a bounded 200-document dedupBatchAndGrow over a 150-document index with _meta runs 6 Spark jobs") {
    // Hash and collect the batch, read the band hits and the stored ids,
    // verify the stored candidates, then the bands ‖ meta and docs
    // appends. The ingest ledger and the batch key add none: the
    // ledger's marks are driver-side files, and the key is read from
    // the collected batch.
    val prefix = "lshgrowjobs"
    Seq("_docs", "_bands", "_meta", "_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $prefix$t"))
    val all = Tables.documents(spark, Sf).select("doc_id", "text")
    val seed = all.filter(col("doc_id") < 150)
    LshIndexOps.writeIndex(seed, N, K, Bands, buckets = 4, prefix = prefix)
    LshIndexOps.writeMetaTable(seed, buckets = 4, prefix = prefix)
    val batch = all.filter(col("doc_id") >= 150 && col("doc_id") < 350)
    val jobs = jobsOf(
      LshIndexOps.dedupBatchAndGrow(spark, prefix, batch, N, K, Bands, Threshold).collect())
    assert(jobs == 6, s"the grow ran $jobs Spark jobs")
    assert(spark.table(s"${prefix}_docs").count() > 150, "the batch admitted no keepers")
    assert(!spark.table(s"${prefix}_batches").filter(col("phase") === "commit").isEmpty)
  }

  /** Runs each batch of `waves` through a bounded (default cap) and a
    * forced distributed (cap -1) `dedupBatchAndGrow`, each on its own
    * copy of [[verdictFixture]]'s index, and asserts the same dup-row
    * multiset, the path each took, and the same `_docs`, `_bands` and
    * `_meta` contents after every wave. Returns the dup rows per wave.
    */
  private def sameWaves(
      prefix: String,
      waves: Seq[org.apache.spark.sql.DataFrame],
      cap: Int = IndexCatalog.ProbeIdCap,
      bounded: Boolean = true,
  ): Seq[Seq[String]] = {
    val (b, d) = (s"${prefix}b", s"${prefix}d")
    Seq(b, d).foreach(verdictFixture)
    waves.zipWithIndex.map { case (wave, i) =>
      val got = LshIndexOps.dedupBatchAndGrow(spark, b, wave, N, K, Bands, Threshold, "", cap)
      val want = LshIndexOps.dedupBatchAndGrow(spark, d, wave, N, K, Bands, Threshold, "", -1)
      assert(got.isLocal == bounded, s"$prefix wave $i: bounded path taken is ${got.isLocal}")
      assert(!want.isLocal, s"$prefix wave $i: cap -1 must take the distributed plan")
      assert(got.schema == want.schema, s"$prefix wave $i: schema differs")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toString).sorted
      val dups = rows(got)
      assert(dups == rows(want), s"$prefix wave $i: dup rows differ")
      Seq("_docs", "_bands", "_meta").foreach { t =>
        val (x, y) = (spark.table(b + t), spark.table(d + t))
        assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"$prefix wave $i: $t differs")
      }
      dups
    }
  }

  test("the bounded and distributed ingest waves give the same dup rows and the same index tables") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def text(): Array[String] = Array.fill(100)(Iterator.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString)
    def edit(words: Array[String], at: Int*): String =
      words.indices.map(i => if (at.contains(i)) s"edit$i" else words(i)).mkString(" ")
    val (t, b, _) = verdictFixture("lshwavetexts")
    val (u, v, w, x) = (text(), text(), text(), text())
    def wave(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val first = Seq(600L -> u.mkString(" "), 601L -> edit(t.split(" "), 10))
    val fixtures: Seq[(String, Seq[org.apache.spark.sql.DataFrame])] = Seq(
      // The second wave replays the first beside a new keeper of a lower
      // id, so its ledger key is new: the keeper 600 is stored, and its
      // own bands are its only stored candidates.
      "replayed keeper" -> Seq(wave(first: _*), wave((599L -> x.mkString(" ")) +: first: _*)),
      "within-batch chain" -> Seq(wave(
        702L -> edit(v, 10, 20), 700L -> v.mkString(" "), 701L -> edit(v, 10), 703L -> w.mkString(" "))),
      "repeated doc_id" -> Seq(wave(
        800L -> w.mkString(" "), 800L -> edit(w, 5), 801L -> edit(w, 50), 801L -> "too few tokens",
        802L -> b)),
      "null text" -> Seq(wave(900L -> null, 901L -> edit(u, 7), 902L -> null)),
      "null doc_id" -> Seq(Seq(None -> edit(v, 60), Some(950L) -> edit(v, 61), None -> "a lone null id")
        .toDF("doc_id", "text")),
      "all dups" -> Seq(wave(1000L -> t, 1001L -> b, 1002L -> edit(b.split(" "), 50))),
      "empty" -> Seq(wave()),
    )
    fixtures.foreach { case (name, waves) =>
      val dups = sameWaves("lshwave", waves)
      assert(!dups.flatten.exists(r => r.split(",")(0).drop(1) == r.split(",")(1)),
        s"$name: a doc matched itself")
    }
  }

  test("a wave over 256 rows or with stored hits over the cap takes the distributed plan, with the same results") {
    import spark.implicits._
    val (t, _, _) = verdictFixture("lshwavecap")
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    def rows(n: Int) = docs.filter(col("doc_id") < n).withColumn("doc_id", col("doc_id") + 2000L)
    sameWaves("lshwaverows", Seq(rows(LshIndexOps.VerdictProbeRows)))
    sameWaves("lshwaverows", Seq(rows(LshIndexOps.VerdictProbeRows + 1)), bounded = false)
    // 500 stored copies of one text: each of its band keys is held by
    // more stored docs than a 400 cap, so a probe of it overflows.
    val copies = (3000L until 3500L).map(_ -> t).toDF("doc_id", "text")
    val hot = Seq(Seq(4000L -> t, 4001L -> "an unrelated arrival").toDF("doc_id", "text"))
    Seq("lshwavehotb", "lshwavehotd").foreach { p =>
      verdictFixture(p)
      LshIndexOps.writeIndex(copies, N, K, Bands, 4, s"${p}src")
      LshIndexOps.writeMetaTable(copies, 4, s"${p}src")
    }
    def grown(prefix: String): Unit = Seq("_bands", "_docs", "_meta").foreach { table =>
      spark.table(s"${prefix}src$table").write.mode("append").insertInto(prefix + table)
      spark.catalog.refreshTable(prefix + table)
    }
    val cap = 400
    val (b, d) = ("lshwavehotb", "lshwavehotd")
    Seq(b, d).foreach(grown)
    val got = LshIndexOps.dedupBatchAndGrow(spark, b, hot.head, N, K, Bands, Threshold, "", cap)
    val want = LshIndexOps.dedupBatchAndGrow(spark, d, hot.head, N, K, Bands, Threshold, "", -1)
    assert(!got.isLocal, "stored hits over the cap must not be collected")
    assert(got.collect().toSeq.map(_.toString).sorted == want.collect().toSeq.map(_.toString).sorted)
    Seq("_docs", "_bands", "_meta").foreach { tb =>
      val (x, y) = (spark.table(b + tb), spark.table(d + tb))
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"hot key: $tb differs")
    }
    // The same probe under the default cap stays bounded.
    val small = LshIndexOps.dedupBatchAndGrow(spark, b, Seq(4100L -> t).toDF("doc_id", "text"),
      N, K, Bands, Threshold)
    assert(small.isLocal, "a probe under the default cap takes the bounded path")
  }

  test("a probe over the row cap or stored hits over the cap take the distributed upload verdict") {
    import spark.implicits._
    val prefix = "lshverdicthot"
    val (t, _, _) = verdictFixture(prefix)
    val cap = 400
    val probe = Seq(900L -> t).toDF("doc_id", "text")
    // The bounded path returns a local frame; the distributed plan does not.
    def verdict(df: org.apache.spark.sql.DataFrame, cap: Int) =
      LshIndexOps.uploadVerdict(spark, prefix, df, N, K, Bands, Threshold, minTok = 10L, cap = cap)
    def copiesOf(rows: Int) = (1L to rows.toLong).map(_ -> t).toDF("doc_id", "text")
    assert(verdict(probe, cap).isLocal)
    assert(!verdict(copiesOf(cap / Bands + 1), cap).isLocal)
    def byDefault(df: org.apache.spark.sql.DataFrame) =
      LshIndexOps.uploadVerdict(spark, prefix, df, N, K, Bands, Threshold, minTok = 10L)
    assert(byDefault(copiesOf(LshIndexOps.VerdictProbeRows)).isLocal)
    assert(!byDefault(copiesOf(LshIndexOps.VerdictProbeRows + 1)).isLocal)
    // 500 more stored copies of the probe's text: each of its band keys
    // is now held by more stored docs than the cap.
    val copies = (1000L until 1500L).map(_ -> t).toDF("doc_id", "text")
    LshIndexOps.writeIndex(copies, N, K, Bands, 4, s"${prefix}src")
    LshIndexOps.writeMetaTable(copies, 4, s"${prefix}src")
    Seq("_bands", "_docs", "_meta").foreach { table =>
      spark.table(s"${prefix}src$table").write.mode("append").insertInto(prefix + table)
      spark.catalog.refreshTable(prefix + table)
    }
    val hot = verdict(probe, cap)
    assert(!hot.isLocal, "hits over the cap must not be collected")
    assert(hot.collect().toSeq == verdict(probe, -1).collect().toSeq)
    assert(hot.as[(Long, String, Option[Long])].collect().toSeq == Seq((900L, "exact_dup", Some(5L))))
  }

  test("streaming dedup restart: replayed batch adds no keepers twice, no self-dups, converges to the uninterrupted run") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val cut = docs(docs.length / 2)._1
    val (indexed, streamed) = docs.partition(_._1 < cut)
    val waves = streamed.grouped(streamed.length / 3 + 1).toSeq

    def runStream(
        prefix: String,
        in: MemoryStream[(Long, String)],
        ckpt: String,
        collected: scala.collection.mutable.Buffer[(Long, Long, Double)],
    ) = {
      if (!spark.catalog.tableExists(s"${prefix}_docs")) {
        LshIndexOps.writeIndex(
          indexed.toSeq.toDF("doc_id", "text"), N, K, Bands, buckets = 4, prefix = prefix)
      }
      LshIndexOps.streamingDedup(
        spark, prefix, in.toDF().toDF("doc_id", "text"), N, K, Bands, buckets = 4,
        threshold = Threshold, checkpoint = ckpt,
        onDups = (d, _) => collected ++= d.as[(Long, Long, Double)].collect(),
      )
    }

    // Reference: the uninterrupted run.
    Seq("lshrref", "lshrcut").foreach(p =>
      Seq(s"${p}_docs", s"${p}_bands").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
    val refDups = scala.collection.mutable.Buffer[(Long, Long, Double)]()
    val inRef = MemoryStream[(Long, String)]
    val ckptRef = java.nio.file.Files.createTempDirectory("lsh_restart_ref").toFile.getAbsolutePath
    val qRef = runStream("lshrref", inRef, ckptRef, refDups)
    try waves.foreach { w => inRef.addData(w.toSeq); qRef.processAllAvailable() }
    finally qRef.stop()

    // Interrupted run: crash in the window where batch 1's table appends
    // committed but its streaming checkpoint commit was lost — the worst
    // case for the "index as state" design, forcing a full replay of a
    // batch whose side effects already landed.
    val cutDups = scala.collection.mutable.Buffer[(Long, Long, Double)]()
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_restart_cut").toFile.getAbsolutePath
    val q1 = runStream("lshrcut", in, ckpt, cutDups)
    try {
      in.addData(waves(0).toSeq); q1.processAllAvailable()
      in.addData(waves(1).toSeq); q1.processAllAvailable()
    } finally { q1.stop(); q1.awaitTermination() }
    val commits = new java.io.File(ckpt, "commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    assert(commits.length == 2, s"expected two committed batches, got ${commits.length}")
    val lastCommit = commits.maxBy(_.getName.toInt)
    // Hadoop's local ChecksumFileSystem keeps a .N.crc sidecar; leaving
    // it behind makes the replay's atomic rename fail as already-exists.
    new java.io.File(lastCommit.getParentFile, s".${lastCommit.getName}.crc").delete()
    assert(lastCommit.delete())
    val q2 = runStream("lshrcut", in, ckpt, cutDups)
    try {
      q2.processAllAvailable() // replays wave 1 against its own committed appends
      in.addData(waves(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    val refKept = spark.table("lshrref_docs").select("doc_id").as[Long].collect().sorted.toSeq
    val cutKept = spark.table("lshrcut_docs").select("doc_id").as[Long].collect().sorted.toSeq
    assert(cutKept.length == cutKept.distinct.length, "replay must not double-insert keepers")
    assert(cutKept == refKept, "restarted run must converge to the uninterrupted keeper set")
    assert(!cutDups.exists(r => r._1 == r._2), "replay must not emit self-dup rows")
    assert(cutDups.toSet == refDups.toSet,
      "dup SET must equal the uninterrupted run's (at-least-once multiplicity aside)")
  }

  test("rebucket preserves pair results, stays exchange-free, and the cost dial triggers correctly") {
    import spark.implicits._
    val prefix = "lshrebkt"
    Seq(s"${prefix}_docs", s"${prefix}_bands").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    LshIndexOps.writeIndex(
      Tables.documents(spark, Sf), N, K, Bands, buckets = 4, prefix = prefix)
    def pairs() = LshIndexOps.nearDupPairs(spark, prefix, Threshold)
      .as[(Long, Long, Double)].collect().toSeq
    def numBuckets() = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(s"${prefix}_bands"))
      .bucketSpec.map(_.numBuckets).getOrElse(0)
    val before = pairs()
    assert(before.nonEmpty && numBuckets() == 4)

    // Within budget: no rewrite.
    assert(IndexCatalog.LshIndex.rebucketIfNeeded(spark, prefix, Long.MaxValue).isEmpty)
    assert(numBuckets() == 4)
    // A 1-candidate-per-bucket budget forces a rewrite at more buckets.
    val grown = IndexCatalog.LshIndex.rebucketIfNeeded(spark, prefix, 1L, maxBuckets = 16)
    assert(grown.contains(16), s"expected the maxBuckets cap, got $grown")
    assert(numBuckets() == 16)
    assert(pairs() == before, "physical rebucketing must not change pair results")

    // The candidate self-join stays exchange-free at the new count.
    staticPlans {
      val bandsDf = spark.table(s"${prefix}_bands")
      val joined = bandsDf.as("x").join(
        bandsDf.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"),
      )
      assert(joined.count() > 0)
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
        "rebucketed band self-join must not shuffle")
    }
  }

  test("maintenance recovers a swap crashed between renames before it lists the index tables") {
    val prefix = "lshmaintdangle"
    Seq("_docs", "_docs_old", "_bands", "_meta", "_meta_old", "_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $prefix$t"))
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    LshIndexOps.writeIndex(docs, N, K, Bands, buckets = 4, prefix = prefix)
    LshIndexOps.writeMetaTable(docs, buckets = 4, prefix = prefix)
    def rows(t: String) = spark.table(s"$prefix$t").collect().map(_.toString).sorted.toSeq
    def numBuckets(t: String) = IndexCatalog.bucketSpec(spark, s"$prefix$t").numBuckets
    val metaRows = rows("_meta")
    val docRows = rows("_docs")
    // The state a crash between swapStaged's two renames leaves: the
    // live name gone, `_old` the only copy.
    spark.sql(s"ALTER TABLE ${prefix}_meta RENAME TO ${prefix}_meta_old")
    IndexCatalog.LshIndex.rebucket(spark, prefix, 8)
    assert(!spark.catalog.tableExists(s"${prefix}_meta_old"), "the optional _meta was skipped")
    assert(numBuckets("_meta") == 8)
    assert(rows("_meta") == metaRows)
    // A required table is repaired too, not reported as missing.
    spark.sql(s"ALTER TABLE ${prefix}_docs RENAME TO ${prefix}_docs_old")
    IndexCatalog.LshIndex.compact(spark, prefix, 1)
    assert(!spark.catalog.tableExists(s"${prefix}_docs_old"))
    assert(numBuckets("_docs") == 8)
    assert(rows("_docs") == docRows)
  }

  test("grow-everything text ingest keeps the cluster artifact bit-equal to a from-scratch rebuild") {
    import spark.implicits._
    val pre = "lshixgrow"
    val ref = "lshixgrowref"
    val tables = Seq("_docs", "_bands", "_clusters", "_batches")
    Seq(pre, ref).foreach(p => tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $p$t")))
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val cut = ids(ids.length / 2)
    val seed = docs.filter(col("doc_id") < cut)
    val rest = docs.filter(col("doc_id") >= cut)
      .as[(Long, String)].collect().sortBy(_._1)
    val waves = rest.grouped(rest.length / 2 + 1).toSeq.map(_.toSeq)
    LshIndexOps.writeIndex(seed, N, K, Bands, buckets = 4, prefix = pre)
    LshIndexOps.writeClusters(spark, pre, Threshold, buckets = 4)
    waves.foreach { w =>
      LshIndexOps.ingestBatchAndMaintain(
        spark, pre, w.toDF("doc_id", "text"), N, K, Bands, threshold = Threshold)
    }
    LshIndexOps.writeIndex(docs, N, K, Bands, buckets = 4, prefix = ref)
    LshIndexOps.writeClusters(spark, ref, Threshold, buckets = 4)
    Seq("_docs", "_clusters").foreach { t =>
      val grown = spark.table(s"$pre$t")
      val rebuilt = spark.table(s"$ref$t")
      assert(rebuilt.count() > 0, s"$t rebuild is empty")
      assert(
        grown.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(grown).isEmpty,
        s"incrementally maintained $t differs from the from-scratch rebuild")
    }
    // Clusters must span the split: at least one component joining a
    // seed doc to an ingested doc, or the maintenance path was not
    // genuinely exercised.
    val crossSplit = spark.table(s"${pre}_clusters")
      .groupBy(col("component"))
      .agg(
        sum(when(col("doc_id") < cut, 1L).otherwise(0L)).as("n_seed"),
        sum(when(col("doc_id") >= cut, 1L).otherwise(0L)).as("n_new"))
      .filter(col("n_seed") > 0 && col("n_new") > 0)
    assert(!crossSplit.isEmpty, "expected at least one cross-split cluster")
    // Replaying the last wave is a no-op on every artifact.
    val before = Seq("_docs", "_clusters")
      .map(t => t -> spark.table(s"$pre$t").collect().toSeq).toMap
    LshIndexOps.ingestBatchAndMaintain(
      spark, pre, waves.last.toDF("doc_id", "text"), N, K, Bands, threshold = Threshold)
    before.foreach { case (t, rows0) =>
      assert(spark.table(s"$pre$t").collect().toSeq.sortBy(_.toString) ==
        rows0.sortBy(_.toString), s"replaying a committed batch must not change $t")
    }
  }

  test("a swap crashed between renames is recovered by the next ingest, not silently skipped") {
    import spark.implicits._
    val pre = "lshixdangle"
    val ref = "lshixdangleref"
    val tables = Seq("_docs", "_bands", "_clusters", "_clusters_old", "_batches")
    Seq(pre, ref).foreach(p => tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $p$t")))
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val seed = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    LshIndexOps.writeIndex(seed, N, K, Bands, buckets = 4, prefix = pre)
    LshIndexOps.writeClusters(spark, pre, Threshold, buckets = 4)
    // Inject the crash-between-renames state a prior maintenance swap
    // can leave: `_clusters` gone, `_clusters_old` the sole copy. The
    // old tableExists guard read this as "no cluster artifact", skipped
    // the merge, and still committed the batch — leaving the cluster
    // read face permanently stale.
    spark.sql(s"ALTER TABLE ${pre}_clusters RENAME TO ${pre}_clusters_old")
    LshIndexOps.ingestBatchAndMaintain(
      spark, pre, batch.toDF("doc_id", "text"), N, K, Bands, threshold = Threshold)
    assert(spark.catalog.tableExists(s"${pre}_clusters"),
      "ingest must recover the dangling _old before its exists guard")
    assert(!spark.catalog.tableExists(s"${pre}_clusters_old"))
    // And the recovered-then-merged clusters equal the from-scratch truth.
    LshIndexOps.writeIndex(docs, N, K, Bands, buckets = 4, prefix = ref)
    LshIndexOps.writeClusters(spark, ref, Threshold, buckets = 4)
    val grown = spark.table(s"${pre}_clusters")
    val rebuilt = spark.table(s"${ref}_clusters")
    assert(rebuilt.count() > 0)
    assert(grown.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(grown).isEmpty,
      "clusters maintained across the recovered swap must equal the rebuild")
  }

  test("incrementally admitted keepers are visible to the text exact-dup digest probe") {
    import spark.implicits._
    val pre = "lshixmetagrow"
    Seq("_docs", "_bands", "_meta", "_batches")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $pre$sfx"))
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val stored = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    LshIndexOps.writeIndex(stored, N, K, Bands, buckets = 4, prefix = pre)
    LshIndexOps.writeMetaTable(stored, buckets = 4, prefix = pre)
    val metaBefore = spark.table(s"${pre}_meta").count()
    LshIndexOps.dedupBatchAndGrow(
      spark, pre, batch, N, K, Bands, threshold = Threshold)
    val keptIds = spark.table(s"${pre}_docs").select("doc_id").as[Long].collect().toSet --
      stored.select("doc_id").as[Long].collect().toSet
    assert(keptIds.nonEmpty)
    assert(spark.table(s"${pre}_meta").count() == metaBefore + keptIds.size,
      "admitted keepers' meta rows must ride the same commit")
    // Replay an EXACT copy of an admitted doc (same text, fresh id):
    // the digest probe labels it exact_dup with the admitted doc_id —
    // not near_dup at jaccard 1.
    val admitted = keptIds.min
    val text = batch.filter(col("doc_id") === admitted).select("text").as[String].head()
    val maxId = docs.agg(max(col("doc_id"))).as[Long].head()
    val copy = Seq((maxId + 1L, text)).toDF("doc_id", "text")
    val verdict = LshIndexOps.uploadVerdict(
      spark, pre, copy, N, K, Bands, Threshold, minTok = 20L)
      .as[(Long, String, java.lang.Long)].collect().toSeq
    assert(verdict == Seq((maxId + 1L, "exact_dup", java.lang.Long.valueOf(admitted))),
      s"expected exact_dup of $admitted, got $verdict")
  }

  test("incremental dedup against the index flags a planted near-duplicate") {
    buildOnce()
    import spark.implicits._
    // A batch doc whose text IS an indexed doc's text (jaccard 1.0) plus
    // one unrelated doc; ids far above the corpus range.
    val stored = Tables.documents(spark, Sf)
      .orderBy("doc_id").select("doc_id", "text").as[(Long, String)].head()
    val batch = Seq(
      (1000000L, stored._2),
      (1000001L, "zzz qqq xxx completely unrelated nonsense tokens " * 3),
    ).toDF("doc_id", "text")
    val hits = LshIndexOps
      .dedupAgainstIndex(spark, Prefix, batch, N, K, Bands, Threshold)
      .collect()
    assert(hits.exists(r => r.getLong(0) == 1000000L && r.getLong(1) == stored._1),
      s"planted duplicate not flagged: ${hits.mkString(", ")}")
    assert(!hits.exists(r => r.getLong(0) == 1000001L),
      "unrelated batch doc must not be flagged")
  }
}
