package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.EventOps

/** Differential property tests (SURVEY.md §5.3): generated inputs, the
  * engine's Column algebra vs a straight-line Scala reference
  * implementation. ScalaCheck Properties run natively under sbt test.
  */
object EngineProps extends Properties("graft") {

  private lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val P = 2147483647L

  /** polyHash obeys the rolling-concat identity:
    * h(a ++ b) = (h(a)·31^|b| + h(b)) mod P.
    */
  property("polyHash rolling concat identity") = {
    import spark.implicits._
    val genStr = Gen.listOf(Gen.alphaNumChar).map(_.mkString).suchThat(_.nonEmpty)
    Prop.forAll(genStr, genStr) { (a, b) =>
      val Seq(ha, hb, hab) = Seq(a, b, a + b)
        .toDF("s")
        .select(graft.expressions.PolyHash(col("s")))
        .as[Long]
        .collect()
        .toSeq
      val pow = b.foldLeft(1L)((acc, _) => acc * 31 % P)
      hab == (ha * pow + hb) % P
    }
  }

  /** accessTrend is a partition of in-range traffic: per day, in+out
    * event counts equal the row count and in+out values equal the total.
    */
  property("accessTrend partitions in-range traffic by direction") = {
    import spark.implicits._
    val genEvent = for {
      user <- Gen.chooseNum(0L, 12L)
      day <- Gen.chooseNum(1, 28)
      hour <- Gen.chooseNum(0, 23)
      value <- Gen.chooseNum(0, 99999).map(_ / 100.0)
    } yield (user, f"2024-01-$day%02d $hour%02d:00:00", value)

    Prop.forAll(Gen.nonEmptyListOf(genEvent)) { events =>
      val df = events
        .toDF("user_id", "ts_s", "value")
        .select(col("user_id"), to_timestamp(col("ts_s")).cast("timestamp_ntz").as("ts"), col("value"))
      val got = EventOps
        .accessTrend(df, "2024-01-05", "2024-01-25")
        .select("day", "in_value", "in_events", "out_value", "out_events")
        .as[(String, Double, Long, Double, Long)]
        .collect()

      val inRange = events.filter { case (_, ts, _) =>
        val full = ts + ".000000"
        full >= "2024-01-05" && full <= "2024-01-25"
      }
      val byDay = inRange.groupBy(_._2.take(10))
      // Outputs are DOUBLE at the query boundary (decimal internally);
      // each side must equal the exact decimal sum's correctly-rounded
      // double — compare per direction, never summing the two doubles.
      def exactSum(rows: Seq[(Long, String, Double)]): Double =
        rows.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      got.forall { case (day, inV, inN, outV, outN) =>
        val rows = byDay.getOrElse(day, Nil)
        val inRows = rows.filter(_._1 == EventOps.HostId)
        val outRows = rows.filter(_._1 != EventOps.HostId)
        inN + outN == rows.size &&
        inV == exactSum(inRows) && outV == exactSum(outRows) &&
        inN == inRows.size
      } && got.map(_._1).toSet == byDay.keySet
    }
  }

  /** The reference's lexicographic string range (P5) agrees with proper
    * timestamp comparison for well-formed "yyyy-MM-dd ..." strings when
    * the bounds are date-only prefixes.
    */
  property("lexicographic range filter == timestamp range for well-formed strings") = {
    import spark.implicits._
    val genTs = for {
      day <- Gen.chooseNum(1, 28)
      hour <- Gen.chooseNum(0, 23)
      min <- Gen.chooseNum(0, 59)
    } yield f"2024-01-$day%02d $hour%02d:$min%02d:00.000000"
    // forAllNoShrink: ScalaCheck's list/string shrinker truncates
    // elements (e.g. "2024-01-28 …" → "2024-01-2"), silently violating
    // the generator's well-formedness invariant the property is
    // conditioned on — shrunk counterexamples here are artifacts, not
    // bugs (the cause of a rare flake: shrinking only runs after a
    // legitimately-failing random edge triggers re-checking).
    Prop.forAllNoShrink(Gen.nonEmptyListOf(genTs)) { tss =>
      val df = tss.toDF("timestamp")
      val lex = df
        .filter(graft.operators.NetflowOps.rangeFilter(col("timestamp"), "2024-01-10", "2024-01-20"))
        .count()
      // The native-equivalent of the lexicographic form is STRICT at the
      // upper date: every real timestamp string extends "2024-01-20", so
      // `ts <= '2024-01-20'` excludes all of day 20 — midnight included
      // (rangeFilterPushdown's documented equivalence). The previous
      // `<=` here disagreed exactly on "2024-01-20 00:00:00.000000", a
      // rare-but-legitimate generator output (the flake).
      val tsCmp = df
        .filter(
          to_timestamp(col("timestamp")) >= to_timestamp(lit("2024-01-10 00:00:00")) &&
            to_timestamp(col("timestamp")) < to_timestamp(lit("2024-01-20 00:00:00")),
        )
        .count()
      lex == tsCmp
    }
  }

  /** Minhash signatures: deterministic per set, and coordinatewise
    * monotone non-increasing when the shingle set grows (appending text
    * keeps every interior 2-gram of the prefix, for prefixes ≥ 2 words).
    */
  property("minhash signature is a set function, monotone under union") = {
    import spark.implicits._
    val genWords = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
    Prop.forAll(genWords, genWords) { (w1, w2) =>
      val t1 = w1.mkString(" ")
      val t12 = (w1 ++ w2).mkString(" ")
      val sigs = Seq(t1, t1, t12)
        .toDF("text")
        .select(
          graft.operators.HashOps
            .minhashSignature(graft.operators.HashOps.shingleHashes(col("text"), 2), 16),
        )
        .as[Seq[Long]]
        .collect()
      val deterministic = sigs(0) == sigs(1)
      val monotone =
        w1.size < 2 || sigs(2).zip(sigs(0)).forall { case (grown, base) => grown <= base }
      deterministic && monotone
    }
  }

  /** Large-star/small-star contraction and label propagation share the
    * connected-components fixpoint (min reachable id per node) on random
    * graphs — including multi-edges, self-loops, chains, and forests.
    */
  property("star-contraction CC equals label-propagation CC") = {
    import spark.implicits._
    val genEdge = for {
      a <- Gen.chooseNum(0L, 24L)
      b <- Gen.chooseNum(0L, 24L)
    } yield (a, b)
    Prop.forAll(Gen.nonEmptyListOf(genEdge)) { rawEdges =>
      // Self-loops carry no connectivity; both operators take pair lists
      // (doc_a != doc_b) as produced by the near-dup joins.
      val edges = rawEdges.filter { case (a, b) => a != b }
      edges.isEmpty || {
        val df = edges.toDF("doc_a", "doc_b")
        val lp = graft.operators.DedupOps
          .connectedComponents(df)
          .as[(Long, Long)].collect().toSet
        val stars = graft.operators.DedupOps
          .connectedComponentsStars(df)
          .as[(Long, Long)].collect().toSet
        lp == stars
      }
    }
  }

  /** The codegen'd ShinglesExpr equals its declarative HOF spec
    * (transform/sequence/concat_ws/slice over split) for any text and
    * width — the same discipline every sketch expression follows.
    */
  property("ShinglesExpr matches the declarative HOF composition") = {
    import spark.implicits._
    val genText = Gen
      .listOf(Gen.oneOf(Gen.oneOf("x", "yy", "zzz"), Gen.const("")))
      .map(_.mkString(" "))
    Prop.forAll(genText, Gen.chooseNum(1, 4)) { (text, n) =>
      val w = split(col("text"), " ")
      val hof = transform(
        sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(w, i, lit(n))),
      )
      val rows = Seq(text)
        .toDF("text")
        .select(
          graft.expressions.SketchColumns.shingles(col("text"), n).as("fast"),
          hof.as("spec"),
        )
        .as[(Seq[String], Seq[String])]
        .collect()
      rows.head._1 == rows.head._2
    }
  }

  /** Sequence packing conserves tokens and documents within each lang;
    * pack ids start at 0 and strictly increase (they may SKIP — a doc
    * longer than the budget spans several windows, so the next doc
    * starts packs later), and each pack's id equals its first doc's
    * cum_before div budget by construction.
    */
  property("packSequences conserves tokens and yields increasing packs from 0") = {
    import spark.implicits._
    val genDoc = for {
      id <- Gen.chooseNum(1L, 4096L)
      lang <- Gen.oneOf("en", "fr")
      n <- Gen.chooseNum(1, 12)
    } yield (id, lang, Seq.fill(n)("w").mkString(" "))
    Prop.forAll(Gen.nonEmptyListOf(genDoc), Gen.chooseNum(4L, 32L)) { (docsRaw, budget) =>
      val docs = docsRaw.distinctBy(_._1)
      val df = docs.toDF("doc_id", "lang", "text")
      val packs = graft.operators.TextOps
        .packSequences(df, budget)
        .as[(String, Long, Long, Long, Long, Long)]
        .collect()
        .toSeq
      val byLang = docs.groupBy(_._2)
      byLang.forall { case (lang, ds) =>
        val mine = packs.filter(_._1 == lang)
        val tokensTotal = ds.map(_._3.split(" ").length.toLong).sum
        val ids = mine.map(_._2)
        ids.headOption.contains(0L) &&
        ids.zip(ids.drop(1)).forall { case (a, b) => a < b } &&
        mine.map(_._4).sum == tokensTotal &&
        mine.map(_._3).sum == ds.length.toLong
      }
    }
  }

  /** dupNgramStats: fractions stay in [0,1]; duplicating the whole
    * corpus (every doc twice under fresh ids) drives every fraction
    * to exactly 1.0.
    */
  property("dupNgramStats bounds and saturation under full duplication") = {
    import spark.implicits._
    val genDoc = for {
      id <- Gen.chooseNum(1L, 1024L)
      n <- Gen.chooseNum(1, 8)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield (id, ws.mkString(" "))
    Prop.forAll(Gen.nonEmptyListOf(genDoc)) { docsRaw =>
      val docs = docsRaw.distinctBy(_._1)
      val doubled = docs ++ docs.map { case (id, t) => (id + 2048L, t) }
      val out = graft.operators.DedupOps
        .dupNgramStats(doubled.toDF("doc_id", "text"), 3)
        .as[(Long, Long, Long, Double)]
        .collect()
      out.forall { case (_, n, d, f) => d <= n && f >= 0.0 && f <= 1.0 } &&
      out.forall(_._4 == 1.0)
    }
  }

  /** kmeansStep's assignment is the brute-force argmin over the seed set
    * (squared L2, ties to the lower seed id), and per-cluster counts are
    * the assignment histogram.
    */
  property("kmeansStep cluster sizes equal brute-force nearest-seed counts") = {
    import spark.implicits._
    val genVec = Gen.listOfN(4, Gen.chooseNum(-8, 8).map(_.toFloat))
    val genRows = Gen.chooseNum(3, 24).flatMap(n => Gen.listOfN(n, genVec))
    Prop.forAll(genRows) { vecs =>
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val seeds = rows.take(2)
      def d2(a: Seq[Float], b: Seq[Float]): Double =
        a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
      val expected = rows
        .map { case (_, v) => seeds.minBy { case (sid, sv) => (d2(v, sv), sid) }._1 }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = graft.operators.SimilarityOps
        .kmeansStep(rows.toDF("vec_id", "embedding"), col("vec_id") < 2)
        .select("cluster", "n").distinct()
        .as[(Long, Long)].collect().toMap
      got == expected
    }
  }

  /** nearDupAwareSplit is cluster-atomic: all members of a component land
    * in the same split, every doc appears exactly once, and buckets are
    * the documented hash.
    */
  property("nearDupAwareSplit is cluster-atomic and total") = {
    import spark.implicits._
    val genEdge = for {
      u <- Gen.chooseNum(1L, 12L)
      v <- Gen.chooseNum(1L, 12L)
    } yield (math.min(u, v), math.max(u, v))
    Prop.forAll(Gen.listOf(genEdge).map(_.filter(e => e._1 != e._2).distinct)) { pairs =>
      val docs = (1L to 12L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val clusters = graft.operators.DedupOps
        .connectedComponents(pairs.toDF("doc_a", "doc_b"))
      val out = graft.operators.DedupOps
        .nearDupAwareSplit(docs, clusters, trainBuckets = 8, buckets = 10)
        .as[(Long, Long, Long, String)].collect()
      val byDoc = out.map(r => r._1 -> r._4).toMap
      val clusterMap = clusters.as[(Long, Long)].collect().toMap
      out.length == 12 &&
      pairs.forall { case (a, b) => byDoc(a) == byDoc(b) } &&
      out.forall { case (id, key, bucket, split) =>
        key == clusterMap.getOrElse(id, id) &&
        bucket == key * 2654435761L % P % 10 &&
        split == (if (bucket < 8) "train" else "val")
      }
    }
  }

  /** pqEncode equals the brute-force per-block argmin + base-packing
    * reference on random vectors (including tie cases from the small
    * integer-valued coordinate domain).
    */
  property("pqEncode equals brute-force per-block codebook assignment") = {
    import spark.implicits._
    val genVec = Gen.listOfN(4, Gen.chooseNum(-4, 4).map(_.toFloat))
    val genRows = Gen.chooseNum(3, 16).flatMap(n => Gen.listOfN(n, genVec))
    Prop.forAll(genRows) { vecs =>
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val seeds = rows.take(2)
      def d2(a: Seq[Float], b: Seq[Float]): Double =
        a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
      val expected = rows.map { case (id, v) =>
        val perBlock = (0 until 2).map { b =>
          val sub = v.slice(b * 2, b * 2 + 2)
          seeds.minBy { case (sid, sv) => (d2(sub, sv.slice(b * 2, b * 2 + 2)), sid) }
        }
        val code = perBlock.zipWithIndex.map { case ((sid, _), b) => sid * (1L << b) }.sum
        val err = perBlock.zipWithIndex
          .map { case ((_, sv), b) => d2(v.slice(b * 2, b * 2 + 2), sv.slice(b * 2, b * 2 + 2)) }
          .foldLeft(0.0)(_ + _)
        id -> ((code, err))
      }.toMap
      val got = graft.operators.SimilarityOps
        .pqEncode(rows.toDF("vec_id", "embedding"), blocks = 2, subDim = 2,
          isSeed = col("vec_id") < 2, nSeeds = 2)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      got == expected
    }
  }

  /** semanticDedup equals the straight-line per-cell reference: removed
    * = vectors with a lower-id cell-mate at cosine ≥ τ; kept_by = the
    * lowest such id; n_dups = how many qualify. The reference mirrors
    * the engine's exact fold order (norm, then element division, then
    * left-fold dot), so threshold comparisons cannot split on rounding.
    */
  property("semanticDedup equals brute-force within-cell cosine reference") = {
    import spark.implicits._
    val genVec = Gen.listOfN(3, Gen.chooseNum(-3, 3).map(_.toFloat))
      .suchThat(v => v.exists(_ != 0f))
    val genRow = for {
      cell <- Gen.oneOf("a", "b")
      v <- genVec
    } yield (cell, v)
    Prop.forAll(Gen.chooseNum(2, 16).flatMap(n => Gen.listOfN(n, genRow))) { rowsRaw =>
      val rows = rowsRaw.zipWithIndex.map { case ((c, v), i) => (i.toLong, c, v) }
      def unit(v: Seq[Float]): Seq[Double] = {
        val d = v.map(_.toDouble)
        val norm = math.sqrt(d.map(x => x * x).foldLeft(0.0)(_ + _))
        d.map(_ / norm)
      }
      def dot(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
      val tau = 0.5
      val expected = rows.flatMap { case (id, cell, v) =>
        val mates = rows.filter(r => r._2 == cell && r._1 < id)
          .filter(r => dot(unit(r._3), unit(v)) >= tau)
        if (mates.isEmpty) None
        else Some(id -> ((mates.map(_._1).min, mates.size.toLong)))
      }.toMap
      val got = graft.operators.DedupOps
        .semanticDedup(rows.toDF("vec_id", "cell", "embedding"), col("cell"), tau)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      got == expected
    }
  }

  /** cdcChunk is a partition of the document: chunks joined back in
    * chunk order reproduce the original text exactly, and token counts
    * are conserved — for ANY generated corpus and modulus.
    */
  property("cdcChunk chunks reassemble to the original document") = {
    import spark.implicits._
    val genDoc = Gen.nonEmptyListOf(Gen.oneOf("aa", "bb", "cc", "dd", "e", "f")).map(_.mkString(" "))
    val genMod = Gen.choose(2, 6)
    Prop.forAll(Gen.nonEmptyListOf(genDoc), genMod) { (texts, m) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val chunks = graft.operators.TextOps
        .cdcChunk(docs.toDF("doc_id", "text"), m)
        .as[(Long, Long, Long, String)].collect()
      val rebuilt = chunks.groupBy(_._1).view.mapValues { rs =>
        (rs.sortBy(_._2).map(_._4).mkString(" "), rs.map(_._3).sum)
      }.toMap
      docs.forall { case (id, t) =>
        rebuilt(id) == ((t, t.split(" ").length.toLong))
      }
    }
  }

  /** removeBoilerplate conserves segments (kept + dropped = total) and
    * drops a segment iff its corpus frequency exceeds maxReps — checked
    * against a straight-line frequency count.
    */
  property("removeBoilerplate drops exactly the over-frequent segments") = {
    import spark.implicits._
    val genDoc = Gen.nonEmptyListOf(Gen.oneOf("x y", "p q", "r s", "u v")).map(_.mkString(" "))
    Prop.forAll(Gen.nonEmptyListOf(genDoc), Gen.choose(1L, 3L)) { (texts, maxReps) =>
      val width = 2
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val segsOf = (t: String) => t.split(" ").grouped(width).map(_.mkString(" ")).toSeq
      val freq = docs.flatMap(d => segsOf(d._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = graft.operators.TextOps
        .removeBoilerplate(docs.toDF("doc_id", "text"), width, maxReps)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> r).toMap
      docs.forall { case (id, t) =>
        val segs = segsOf(t)
        val keep = segs.filter(s => freq(s) <= maxReps)
        val (_, n, d, clean) = got(id)
        n == segs.size && d == (segs.size - keep.size) && clean == keep.mkString(" ")
      }
    }
  }

  /** bpeMergeStep's pair counts equal the straight-line sliding-window
    * count over the same regex token stream.
    */
  property("bpeMergeStep counts equal brute-force adjacent-pair counting") = {
    import spark.implicits._
    val genDoc = Gen.listOfN(6, Gen.oneOf("ab", "cd", "1", "!", "x")).map(_.mkString(" "))
    Prop.forAll(Gen.nonEmptyListOf(genDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val re = graft.operators.TextOps.BpePattern.r
      val expected = docs
        .flatMap { case (_, t) => re.findAllIn(t).toSeq.sliding(2).filter(_.size == 2) }
        .map(p => (p(0), p(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val k = expected.size + 1
      val got = graft.operators.TextOps
        .bpeMergeStep(docs.toDF("doc_id", "text"), k)
        .as[(String, String, Long)].collect()
        .map { case (a, b, c) => (a, b) -> c }.toMap
      got == expected
    }
  }

  /** bpeEncode equals a straight-line greedy encoder: one leftmost
    * non-overlapping pass per merge, in rank order, over each doc's
    * token list (the replace-chain's contract, checked against an
    * independent list-recursion implementation).
    */
  property("bpeEncode equals straight-line greedy merge application") = {
    import spark.implicits._
    val genDoc = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "ab")).map(_.mkString(" "))
    val genMerge = for {
      x <- Gen.oneOf("a", "b", "c", "ab", "aa")
      y <- Gen.oneOf("a", "b", "c", "ab")
    } yield (x, y)
    def applyMerge(toks: List[String], a: String, b: String): List[String] = toks match {
      case x :: y :: rest if x == a && y == b => (a + b) :: applyMerge(rest, a, b)
      case x :: rest => x :: applyMerge(rest, a, b)
      case Nil => Nil
    }
    Prop.forAll(Gen.nonEmptyListOf(genDoc), Gen.listOfN(3, genMerge)) { (texts, merges0) =>
      val merges = merges0.distinct
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.TextOps
        .bpeEncode(docs.toDF("doc_id", "text"), merges)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      docs.forall { case (id, t) =>
        val toks = graft.operators.TextOps.BpePattern.r.findAllIn(t).toList
        val enc = merges.foldLeft(toks) { case (ts, (a, b)) => applyMerge(ts, a, b) }
        got(id) == ((toks.size.toLong, enc.size.toLong,
          enc.map(x => s"[$x]").mkString.take(60)))
      }
    }
  }

  /** maxConcurrent equals the closed-form sweep reference: the peak is
    * attained immediately after some start, where the open count is
    * #{j : s_j <= s_i < e_j} (half-open intervals, ends-before-starts
    * at equal instants).
    */
  property("maxConcurrent equals brute-force interval stabbing maximum") = {
    import spark.implicits._
    val genEvent = for {
      typ <- Gen.oneOf("A", "B")
      sec <- Gen.chooseNum(0, 40)
      dur <- Gen.chooseNum(0, 9)
    } yield (typ, sec, dur.toDouble + 0.25)
    Prop.forAll(Gen.nonEmptyListOf(genEvent)) { evs =>
      val rows = evs.zipWithIndex.map { case ((typ, sec, v), i) =>
        (i.toLong, f"2024-01-01 00:00:$sec%02d", 1L, typ, v)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val got = EventOps.maxConcurrent(df).as[(String, Long)].collect().toMap
      val ivals = evs.map { case (typ, sec, v) => (typ, sec.toLong, sec.toLong + v.toLong + 1) }
      val expected = ivals.groupBy(_._1).map { case (typ, is) =>
        typ -> is.map { case (_, s, _) =>
          is.count { case (_, s2, e2) => s2 <= s && s < e2 }.toLong
        }.max
      }
      got == expected
    }
  }

  /** ewmaSpikes equals a straight-line integer fold per user in
    * (ts, event_id) order.
    */
  property("ewmaSpikes equals straight-line integer fold") = {
    import spark.implicits._
    val genEvent = for {
      user <- Gen.chooseNum(0L, 3L)
      sec <- Gen.chooseNum(0, 50)
      cents <- Gen.chooseNum(1, 50000)
    } yield (user, sec, cents)
    Prop.forAll(Gen.nonEmptyListOf(genEvent)) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, sec, c), i) =>
        (i.toLong, f"2024-01-01 00:00:$sec%02d", u, c / 100.0)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val got = EventOps.ewmaSpikes(df).as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val expected = rows
        .map { case (id, ts, u, v) => (u, ts, id, math.floor(v * 100 + 0.5).toLong) }
        .groupBy(_._1)
        .map { case (u, rs) =>
          val ordered = rs.sortBy(r => (r._2, r._3)).map(_._4)
          val (ewma, spikes) = ordered.foldLeft((-1L, 0L)) { case ((e, sp), x) =>
            val sp2 = if (e >= 0 && x > 2 * e) sp + 1 else sp
            val e2 = if (e < 0) x else math.floor((x + 7 * e).toDouble / 8.0).toLong
            (e2, sp2)
          }
          u -> ((ordered.size.toLong, ewma, spikes))
        }
      got == expected
    }
  }

  /** madOutliers equals a straight-line lower-median/MAD reference. */
  property("madOutliers equals straight-line median/MAD reference") = {
    import spark.implicits._
    val genEvent = for {
      typ <- Gen.oneOf("A", "B")
      cents <- Gen.chooseNum(1, 9999)
    } yield (typ, cents / 100.0)
    Prop.forAll(Gen.nonEmptyListOf(genEvent)) { evs =>
      val rows = evs.zipWithIndex.map { case ((typ, v), i) =>
        (i.toLong, "2024-01-01 00:00:01", 1L, typ, v)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val got = EventOps.madOutliers(df).as[(String, Long, Double, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      def lowerMedian(xs: Seq[(Double, Long)]): Double = {
        val sorted = xs.sortBy(identity)
        sorted(((sorted.size + 1) / 2) - 1)._1
      }
      val expected = rows.groupBy(_._4).map { case (typ, rs) =>
        val med = lowerMedian(rs.map(r => (r._5, r._1)))
        val devs = rs.map(r => (math.abs(r._5 - med), r._1))
        val mad = lowerMedian(devs)
        typ -> ((rs.size.toLong, med, mad, devs.count(_._1 > 3 * mad).toLong))
      }
      got == expected
    }
  }

  /** The codegen'd DHash fingerprint equals a straight-line reference:
    * region of code-point j (0-based) is ⌊j·R/L⌋, per-region sums,
    * gradient bits folded MSB→LSB.
    */
  property("DHash equals straight-line region-gradient reference") = {
    import spark.implicits._
    val genStr = Gen.listOf(Gen.alphaNumChar).map(_.mkString).suchThat(_.nonEmpty)
    Prop.forAll(genStr) { s =>
      val regions = 49
      val got = Seq(s).toDF("s")
        .select(graft.expressions.DHash(col("s"), regions))
        .as[Long].head()
      val cps = s.codePoints().toArray
      val sums = new Array[Long](regions)
      cps.zipWithIndex.foreach { case (cp, j) =>
        sums((j.toLong * regions / cps.length).toInt) += cp
      }
      val expected = (0 until regions - 1)
        .foldLeft(0L)((acc, k) => acc * 2 + (if (sums(k) > sums(k + 1)) 1L else 0L))
      got == expected
    }
  }

  /** The perceptual-locality guarantee the near-dup banding relies on:
    * a single same-length character substitution changes exactly one
    * region's sum, so at most the two adjacent gradient comparisons
    * flip — hamming ≤ 2, always within the mm_near_dedup budget of 5.
    */
  property("single char substitution flips at most 2 DHash gradient bits") = {
    import spark.implicits._
    val gen = for {
      s <- Gen.listOf(Gen.alphaNumChar).map(_.mkString).suchThat(_.nonEmpty)
      pos <- Gen.chooseNum(0, s.length - 1)
      c <- Gen.alphaNumChar
    } yield (s, s.updated(pos, c))
    Prop.forAll(gen) { case (a, b) =>
      val Seq(ha, hb) = Seq(a, b).toDF("s")
        .select(graft.expressions.DHash(col("s"), 49))
        .as[Long].collect().toSeq
      java.lang.Long.bitCount(ha ^ hb) <= 2
    }
  }

  /** burstPeak (the core shared with the streaming twin) equals a
    * brute-force scan of every aligned 60 s/10 s window.
    */
  property("burstPeak equals brute-force aligned-window maximum") = {
    import spark.implicits._
    val genEvent = for {
      user <- Gen.chooseNum(0L, 3L)
      sec <- Gen.chooseNum(0L, 300L)
    } yield (user, sec)
    Prop.forAll(Gen.nonEmptyListOf(genEvent)) { evs =>
      val df = evs.toDF("user_id", "sec")
        .select(
          col("user_id"),
          timestamp_add("SECOND", col("sec"),
            lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0))).as("ts"),
        )
      val got = graft.operators.NetflowOps.burstPeak(df)
        .as[(Long, Long, Long)].collect().toSet
      val expected = evs.groupBy(_._1).map { case (u, rs) =>
        val counts = rs.flatMap { case (_, sec) =>
          val base = sec / 10 * 10
          (0 to 5).map(k => base - 10L * k)
        }.groupBy(identity).map { case (ws, hits) => ws -> hits.size.toLong }
        val peak = counts.values.max
        (u, peak, counts.collect { case (ws, n) if n == peak => ws }.min)
      }.toSet
      got == expected
    }
  }

  /** idleGap (the longest-silence core shared with its streaming twin)
    * equals a brute-force sorted-scan reference in exact microseconds,
    * with NULL for single-event users.
    */
  property("idleGap equals brute-force max inter-arrival gap") = {
    import spark.implicits._
    val genEvent = for {
      user <- Gen.chooseNum(0L, 3L)
      us <- Gen.chooseNum(0L, 600000000L)
    } yield (user, us)
    Prop.forAll(Gen.nonEmptyListOf(genEvent)) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, us), i) => (u, us, i.toLong) }
      val df = rows.toDF("user_id", "us", "event_id")
        .select(
          col("user_id"),
          timestamp_add("MICROSECOND", col("us"),
            lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0))).as("ts"),
          col("event_id"),
        )
      val got = graft.operators.NetflowOps.idleGap(df)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2)))
        .toSet
      val expected = rows.groupBy(_._1).map { case (u, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sorted.map(_._1)
        val gaps = sorted.zip(sorted.drop(1)).map { case (a, b) => b - a }
        (u, rs.size.toLong, if (gaps.isEmpty) null else gaps.max)
      }.toSet
      got == expected
    }
  }

  /** Banding.chunksCol's floor-division extraction equals straight bit
    * slicing for any fingerprint under 2^bits, any tiling layout.
    */
  property("banded chunk extraction == bit slicing") = {
    import spark.implicits._
    val layouts = Seq((48, 6), (48, 8), (52, 4), (16, 16))
    val gen = for {
      (bits, bands) <- Gen.oneOf(layouts)
      fps <- Gen.listOfN(12, Gen.chooseNum(0L, (1L << bits) - 1))
    } yield (bits, bands, fps)
    Prop.forAll(gen) { case (bits, bands, fps) =>
      val chunkBits = bits / bands
      val got = graft.operators.Banding
        .chunkRows(fps.zipWithIndex.map { case (f, i) => (i.toLong, f) }.toDF("doc_id", "fp"),
          "fp", bits, bands)
        .as[(Long, Long, Int, Long)].collect()
        .map { case (id, _, idx, cb) => (id, idx, cb) }.toSet
      val expected = fps.zipWithIndex.flatMap { case (f, i) =>
        (0 until bands).map(c => (i.toLong, c, (f >>> (c * chunkBits)) & ((1L << chunkBits) - 1)))
      }.toSet
      got == expected
    }
  }

  /** The pigeonhole guarantee hammingSelfPairs relies on: any two
    * fingerprints within maxHamming bit flips share at least one whole
    * chunk — so the banded equi-join surfaces every true pair, and the
    * verified pair set equals the brute-force all-pairs answer.
    */
  property("hammingSelfPairs == brute-force pairs under the pigeonhole layout") = {
    import spark.implicits._
    val bits = 48; val bands = 6; val maxHamming = 5
    val gen = for {
      base <- Gen.listOfN(5, Gen.chooseNum(0L, (1L << bits) - 1))
      flips <- Gen.listOfN(5, Gen.chooseNum(0, maxHamming))
      seeds <- Gen.listOfN(5, Gen.chooseNum(0, bits - 1))
    } yield {
      // Half the corpus: near-copies of base fingerprints (≤ maxHamming
      // flips starting at a random bit) so true pairs actually occur.
      val variants = base.zip(flips.zip(seeds)).map { case (f, (k, s)) =>
        (0 until k).foldLeft(f)((acc, d) => acc ^ (1L << ((s + d) % bits)))
      }
      base ++ variants
    }
    Prop.forAll(gen) { fps =>
      val df = fps.zipWithIndex.map { case (f, i) => (i.toLong, f) }.toDF("doc_id", "fp")
      val chunks = graft.operators.Banding.chunkRows(df, "fp", bits, bands)
      val got = graft.operators.Banding
        .hammingSelfPairs(chunks, "fp", maxHamming)
        .as[(Long, Long, Int)].collect().toSet
      val expected = (for {
        a <- fps.indices; b <- fps.indices if a < b
        h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= maxHamming
      } yield (a.toLong, b.toLong, h)).toSet
      got == expected
    }
  }

  /** The cross-modal frame-match reduction (mm_frame_match /
    * mm_index_frame_match): banded two-table hammingPairs, one row per
    * (image, video) at its min over frames, equals the brute-force min
    * over all (image, frame) pairs whenever that min is within
    * maxHamming — exact by pigeonhole (the minimizing frame pair
    * collides on ≥1 chunk, and no smaller value can exist outside the
    * verified set).
    */
  property("cross-table min-over-frames == brute-force frame-pair min") = {
    import spark.implicits._
    val bits = 48; val bands = 6; val maxHamming = 5
    val genFp = Gen.chooseNum(0L, (1L << bits) - 1)
    val gen = for {
      imgs <- Gen.listOfN(4, genFp)
      vids <- Gen.listOfN(3, Gen.nonEmptyListOf(Gen.oneOf(
        genFp, // unrelated frame
        for { // near-copy of a random image
          i <- Gen.chooseNum(0, 3); k <- Gen.chooseNum(0, maxHamming)
          s <- Gen.chooseNum(0, bits - 1)
        } yield (0 until k).foldLeft(imgs(i))((acc, d) => acc ^ (1L << ((s + d) % bits))),
      )).map(_.take(4)))
    } yield (imgs, vids)
    Prop.forAll(gen) { case (imgs, vids) =>
      val imgDf = imgs.zipWithIndex.map { case (f, i) => (i.toLong, f) }.toDF("doc_id", "fp")
      val vidDf = vids.zipWithIndex
        .flatMap { case (frames, v) => frames.map(f => (100L + v, f)) }
        .toDF("doc_id", "fp")
      val got = graft.operators.Banding
        .hammingPairs(
          graft.operators.Banding.chunkRows(imgDf, "fp", bits, bands),
          graft.operators.Banding.chunkRows(vidDf, "fp", bits, bands),
          "fp", maxHamming, "image_id", "video_id")
        .as[(Long, Long, Int)].collect().toSet
      val expected = (for {
        i <- imgs.indices; v <- vids.indices
        h = vids(v).map(f => java.lang.Long.bitCount(imgs(i) ^ f)).min if h <= maxHamming
      } yield (i.toLong, 100L + v, h)).toSet
      got == expected
    }
  }

  /** Quality-aware mixing (tx_mix_quality) conserves its budget: per
    * source, the taken tokens sum to exactly total DIV 2, each cell
    * takes within its inventory, and allocation is best-bin-first
    * (a bin takes anything only if every better bin was fully taken).
    */
  property("mixByQuality conserves the budget and fills best-bin-first") = {
    import spark.implicits._
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val genDoc = for {
      n <- Gen.chooseNum(1, 8)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
      src <- Gen.oneOf("web", "books")
    } yield (ws.mkString(" "), src)
    Prop.forAll(Gen.nonEmptyListOf(genDoc).map(_.take(12))) { docsRaw =>
      val docs = docsRaw.zipWithIndex
        .map { case ((t, s), i) => (i.toLong, t, s) }.toDF("doc_id", "text", "source")
      val rows = graft.operators.TextOps.mixByQuality(docs)
        .as[(String, Long, Long, Long, Long)].collect().toSeq
      rows.groupBy(_._1).forall { case (_, cells) =>
        val total = cells.map(_._4).sum
        val conserved = cells.map(_._5).sum == total / 2
        val bounded = cells.forall(c => c._5 >= 0 && c._5 <= c._4)
        val bestFirst = cells.sortBy(-_._2).foldLeft((true, true)) {
          case ((ok, fullSoFar), c) =>
            (ok && (c._5 == 0 || fullSoFar), fullSoFar && c._5 == c._4)
        }._1
        conserved && bounded && bestFirst
      }
    }
  }

  /** WHash equals an independent matrix-form reference: region sums by
    * the proportional grid, then an explicit 64×64 ±1 Walsh–Hadamard
    * matrix (sign = parity of popcount(k AND j)) — a different code
    * path from the expression's fused loop.
    */
  property("WHash == explicit Walsh-Hadamard matrix reference") = {
    val regions = 49; val bits = 48
    val genText = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).suchThat(_.nonEmpty)
    Prop.forAll(genText) { text =>
      val got = graft.expressions.WHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), regions, bits)
      val L = text.codePointCount(0, text.length)
      val sums = new Array[Long](64)
      text.codePoints().toArray.zipWithIndex.foreach { case (cp, j) =>
        sums((j.toLong * regions / L).toInt) += cp
      }
      val expected = (1 to bits).foldLeft(0L) { (acc, k) =>
        val coef = (0 until 64).map { j =>
          if (java.lang.Integer.bitCount(k & j) % 2 == 1) -sums(j) else sums(j)
        }.sum
        acc * 2 + (if (coef > 0) 1L else 0L)
      }
      got == expected
    }
  }

  /** Scene segmentation (mm_scene_cut) equals a straight-line fold over
    * the per-frame fingerprints: delta = hamming to the previous frame,
    * cut iff first frame or delta > budget, scene id = cuts so far − 1.
    */
  property("sceneCuts == straight-line scene fold over frame fingerprints") = {
    import spark.implicits._
    val budget = 5
    // Video docs (doc_id % 3 == 2) with text long enough to carry
    // several frames; repeated blocks make held shots actually occur.
    val genBlock = Gen.oneOf("abcdefgh", "zyxwvuts", "11223344")
    val genDoc = for {
      blocks <- Gen.nonEmptyListOf(genBlock).map(_.take(12))
    } yield blocks.mkString
    val gen = Gen.nonEmptyListOf(genDoc).map(_.take(4))
    Prop.forAll(gen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (2L + 3L * i, t) }.toDF("doc_id", "text")
      val media = graft.operators.MultimodalOps.encodeMedia(docs)
      val got = graft.operators.MultimodalOps.sceneCuts(media, regions = 49, budget)
        .as[(Long, Int, Option[Int], Long)].collect().toSeq
      val fps = graft.operators.MultimodalOps.videoFrameFingerprints(media, regions = 49)
        .as[(Long, Int, Long)].collect()
      val expected = fps.groupBy(_._1).toSeq.flatMap { case (doc, rows) =>
        val ordered = rows.sortBy(_._2)
        var scene = -1L
        var prev: Option[Long] = None
        ordered.map { case (_, idx, fp) =>
          val delta = prev.map(p => java.lang.Long.bitCount(p ^ fp))
          if (delta.forall(_ > budget)) scene += 1
          prev = Some(fp)
          (doc, idx, delta, scene)
        }
      }.sortBy(r => (r._1, r._2))
      got == expected
    }
  }
}
