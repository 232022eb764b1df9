package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.operators.LshIndexOps

/** A seeded text corpus with injected duplicates: 5% exact copies and
  * 20% near copies (1-3% of tokens replaced) of earlier unique documents.
  */
final class Corpus(seed: Long, n: Int) {
  private val rnd = new scala.util.Random(seed)
  private val vocab = Array.fill(4000)(Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
  private val unique = ArrayBuffer[Int]()

  private def fresh(): String = Iterator.fill(60 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  /** `text` with 1-3% of its tokens (at least one) replaced. */
  def edit(text: String): String = {
    val toks = text.split(" ")
    val k = math.max(1, (toks.length * (0.01 + 0.02 * rnd.nextDouble())).round.toInt)
    (0 until k).foreach { _ =>
      val i = rnd.nextInt(toks.length)
      var w = toks(i)
      while (w == toks(i)) w = vocab(rnd.nextInt(vocab.length))
      toks(i) = w
    }
    toks.mkString(" ")
  }

  /** Per doc: text, kind ('u'nique, 'e'xact copy, 'n'ear copy) and the
    * unique document it copies.
    */
  val text = new Array[String](n)
  val kind = new Array[Char](n)
  val origin = Array.fill(n)(-1)
  (0 until n).foreach { d =>
    val r = rnd.nextDouble()
    if (unique.length < 10 || r >= 0.25) {
      text(d) = fresh(); kind(d) = 'u'; unique += d
    } else {
      val o = unique(rnd.nextInt(unique.length))
      origin(d) = o
      if (r < 0.05) { text(d) = text(o); kind(d) = 'e' }
      else { text(d) = edit(text(o)); kind(d) = 'n' }
    }
  }

  /** Upload probes: exact and near copies of `pool` docs, and new text. */
  def probe(pool: Int, i: Int): String = i % 3 match {
    case 0 => text(unique.filter(_ < pool)(rnd.nextInt(unique.count(_ < pool))))
    case 1 => edit(text(rnd.nextInt(pool)))
    case _ => fresh()
  }
  def newText(): String = fresh()
}

/** `doc_dedup_stream`: a fifth of the corpus seeds a persisted LSH index
  * (bands + docs + meta tables); the rest streams through
  * `LshIndexOps.streamingDedup` in waves from one thread, which between
  * waves issues `LshIndexOps.uploadVerdict` probes on new documents
  * against the same growing index: writes and reads on one artifact.
  */
object DocDedupStream {
  val N = 3
  val K = 32
  val Bands = 8
  val Buckets = 4
  val Threshold = 0.8
  val MinTok = 10L
  val SetupRuns = 3
  val WaveDocs = 200
  val VerdictsPerWave = 4
  val ProbeDocs = 4
  val WarmDocs = 100
  def waves(seconds: Int): Int = math.max(2, seconds * 3 / 10)

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType, nullable = false)))

  private def rows(docs: Seq[(Long, String)]): Iterator[InternalRow] =
    docs.iterator.map { case (id, t) => new GenericInternalRow(Array[Any](id, UTF8String.fromString(t))) }

  /** Exact Jaccard of the word 3-gram shingle sets, as the index defines them. */
  def jaccard(a: String, b: String): Double = {
    def shingles(t: String) = {
      val w = t.split(" ")
      if (w.length < N) Set(t) else w.sliding(N).map(_.mkString(" ")).toSet
    }
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val nWaves = waves(ctx.seconds)
    val streamDocs = nWaves * WaveDocs
    val seedDocs = streamDocs / 4 // a fifth of the corpus
    val corpus = new Corpus(ctx.seed, seedDocs + streamDocs)
    val seedDf = (0 until seedDocs).map(d => (d.toLong, corpus.text(d))).toDF("doc_id", "text")
    val texts = mutable.HashMap[Long, String]()
    corpus.text.indices.foreach(d => texts(d.toLong) = corpus.text(d))
    var nextId = 1000000000L
    def newDocs(n: Int, make: Int => String): Seq[(Long, String)] =
      (0 until n).map { i => nextId += 1; texts(nextId) = make(i); (nextId, texts(nextId)) }
    val dups = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()

    def verdict(prefix: String, docs: Seq[(Long, String)]): Array[Row] =
      LshIndexOps.uploadVerdict(spark, prefix, docs.toDF("doc_id", "text"), N, K, Bands, Threshold, MinTok)
        .collect()

    // Set-up: build the index from the seed fifth and start the stream.
    val setups = (1 to SetupRuns).map { r =>
      val t0 = Clock.nowMs
      val prefix = Tables.tempIndexDb(spark, "perfbench", s"lsh$r")
      LshIndexOps.writeIndex(seedDf, N, K, Bands, Buckets, prefix)
      LshIndexOps.writeMetaTable(seedDf, Buckets, prefix)
      val log = RecordLog.create(s"docs$r", Schema, WarmDocs + streamDocs)
      val last = r == SetupRuns
      val q = LshIndexOps.streamingDedup(
        spark, prefix, RecordLog.stream(spark, s"docs$r", WarmDocs + streamDocs), N, K, Bands, Buckets,
        Threshold, ctx.dir(s"ckpt_lsh$r"),
        (df: DataFrame, _: Long) => if (last) df.as[(Long, Long, Double)].collect().foreach(dups.add))
      val s = (Clock.nowMs - t0) / 1000
      if (!last) q.stop()
      (prefix, log, q, s)
    }
    val (prefix, log, query, _) = setups.last
    // Warm-up, off the clock: one small wave of new text and two verdicts.
    log.append(rows(newDocs(WarmDocs, _ => corpus.newText())))
    query.processAllAvailable()
    (1 to 2).foreach(_ => verdict(prefix, newDocs(ProbeDocs, _ => corpus.newText())))
    dups.clear()

    val waveMs = ArrayBuffer[Double]()
    val probes = ArrayBuffer[(Seq[(Long, String)], Array[Row], Double)]()
    ctx.measure {
      (0 until nWaves).foreach { w =>
        val ids = seedDocs + w * WaveDocs until seedDocs + (w + 1) * WaveDocs
        val t0 = Clock.nowMs
        ctx.probes.request(s"wave$w", "lsh_index", "ingest") {
          log.append(rows(ids.map(d => (d.toLong, corpus.text(d)))))
          query.processAllAvailable()
        }
        waveMs += Clock.nowMs - t0
        (0 until VerdictsPerWave).foreach { v =>
          val docs = newDocs(ProbeDocs, i => corpus.probe(seedDocs, i))
          val t1 = Clock.nowMs
          val rows = ctx.probes.request(s"verdict$w.$v", "lsh_index", "verdict")(verdict(prefix, docs))
          probes += ((docs, rows, Clock.nowMs - t1))
        }
      }
    }
    query.stop()

    // Correctness.
    var failed = 0L
    val failures = ArrayBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; if (failures.length < 10) failures += msg }
    val flagged = dups.toArray(Array.empty[(Long, Long, Double)]).toSeq
    val flaggedIds = flagged.map(_._1).toSet
    val streamed = seedDocs until seedDocs + streamDocs
    streamed.filter(d => corpus.kind(d) == 'e' && !flaggedIds(d.toLong))
      .foreach(d => fail(s"exact duplicate $d of ${corpus.origin(d)} not flagged"))
    flagged.foreach { case (d, of, _) =>
      val j = jaccard(texts(d), texts(of))
      if (j < Threshold) fail(f"pair ($d, $of) flagged at exact Jaccard $j%.3f")
    }
    val stored = spark.table(s"${prefix}_meta").select("doc_id").as[Long].collect()
    val storedTexts = stored.map(texts).toSet
    probes.foreach { case (docs, rows, _) =>
      val got = rows.map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      docs.foreach { case (id, t) =>
        got.get(id) match {
          case Some(("exact_dup", of)) => if (texts.get(of).forall(_ != t)) fail(s"probe $id: exact_dup of $of")
          case Some(("near_dup", of)) =>
            if (storedTexts(t)) fail(s"probe $id: near_dup but its text is stored")
            else if (jaccard(t, texts(of)) < Threshold) fail(s"probe $id: near_dup of $of below threshold")
          case Some(("keep", _)) => if (storedTexts(t)) fail(s"probe $id: keep but its text is stored")
          case other => fail(s"probe $id: verdict $other")
        }
      }
    }
    val near = streamed.filter(corpus.kind(_) == 'n')
    val recall = near.count(d => flaggedIds(d.toLong)).toDouble / math.max(1, near.length)

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val stats = LshIndexOps.fileStats(spark, prefix).as[(String, Long, Long)].collect()
        val bytes = Seq("docs", "bands", "meta").flatMap(t => spark.table(s"${prefix}_$t").inputFiles)
          .map(f => new java.io.File(new java.net.URI(f)).length).sum
        val candidates = LshIndexOps.candidatePairs(spark, prefix).count()
        val verified = LshIndexOps.nearDupPairs(spark, prefix, Threshold).count()
        Layers.streaming(ctx, Seq(query.id.toString)) ++ Map(
          "lsh_index.ingest_batch_ms_p50" -> Stats.median(waveMs),
          "lsh_index.candidate_pairs" -> candidates.toDouble,
          "lsh_index.verified_pairs" -> verified.toDouble,
          "lsh_index.verify_hit_ratio" -> verified.toDouble / math.max(1L, candidates),
          "lsh_index.files" -> stats.map(_._2).sum.toDouble,
          "lsh_index.max_files_per_bucket" -> stats.map(_._3).max.toDouble,
          "lsh_index.bytes" -> bytes.toDouble,
          "lsh_index.dup_recall" -> recall,
        )
      }
    println(f"dedup: $streamDocs docs in $nWaves waves, ${flagged.length} flagged, near-duplicate recall $recall%.3f; " +
      f"${probes.length} verdicts of $ProbeDocs docs")

    setups.foreach { case (p, _, q, _) =>
      q.stop()
      Seq("docs", "bands", "meta", "batches").foreach(t => ctx.cleanup(s"${p}_$t")(spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")))
    }
    (1 to SetupRuns).foreach { r => RecordLog.drop(s"docs$r"); ctx.deleteTree(ctx.dir(s"ckpt_lsh$r")) }
    Outcome(
      attempted = streamDocs + probes.map(_._1.length).sum,
      failed = failed,
      failures = failures.toSeq,
      throughputPerS = streamDocs / (waveMs.sum / 1000),
      latencyMs = probes.map(_._3).toArray,
      tailWanted = 0.95,
      setupS = setups.map(_._4),
      names = Names(("dedup_docs_per_s", "docs/s"), "verdict_latency_p50_ms", "verdict_latency_p95_ms"),
      layers = layers,
    )
  }
}
