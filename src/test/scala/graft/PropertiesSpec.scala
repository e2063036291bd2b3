package graft

import graft.operators.Index
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.clean.{Cleaners, Schemas}
import graft.operators.{NearDup, Ranking}

/** Property-based layer (SURVEY.md §5.2 layer 2). Generators build raw
  * wire rows to the §1.2 schemas; properties pin invariants the golden
  * tests can't enumerate. Samples are drawn with fixed seeds (the
  * scalatest+scalacheck bridge artifact is not in the offline cache, so
  * generators are driven directly — deterministically, which suits a
  * hash-compared engine anyway).
  */
class PropertiesSpec extends SparkSpec {

  import spark.implicits._

  /** Draw `n` deterministic samples from a generator. */
  private def forSamples[T](gen: Gen[T], n: Int = 8)(f: T => Unit): Unit =
    (0 until n).foreach { i => f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong))) }

  private def javaRows(rows: Seq[Row]): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](rows.size)
    rows.foreach(out.add)
    out
  }

  private val followerGen: Gen[String] = Gen.oneOf(
    Gen.choose(0, 999999).map(_.toString),
    Gen.choose(1, 999).map(n => s"${n}k"),
    Gen.choose(1, 9).map(n => s"${n}M"),
    Gen.const("User Info Error"),
    Gen.choose(10, 99).map(n => s"${n / 10.0}k"))

  test("property: cleaned follower_count is null or a non-negative int") {
    forSamples(Gen.listOfN(30, followerGen)) { followers =>
      val rows = followers.zipWithIndex.map { case (f, i) =>
        Row(i.toLong, s"u$i", "t", "d", "p", f, "x", "image", "i", 0L,
          "Local save in /data/x", "c")
      }
      val df = spark.createDataFrame(javaRows(rows), Schemas.rawPin)
      val vals = Cleaners.pin(df).select("follower_count").collect()
      assert(vals.forall(r => r.isNullAt(0) || r.getInt(0) >= 0))
    }
  }

  test("property: plain-k counts expand exactly 1000x") {
    forSamples(Gen.choose(1, 999)) { n =>
      val df = spark.createDataFrame(
        javaRows(Seq(Row(1L, "u", "t", "d", "p", s"${n}k", "x",
          "image", "i", 0L, "Local save in /data/x", "c"))),
        Schemas.rawPin)
      assert(Cleaners.pin(df).collect()(0).getAs[Int]("follower_count") == n * 1000)
    }
  }

  test("property: coordinates always length 2, [lat, lon]") {
    forSamples(Gen.listOfN(20, Gen.zip(Gen.choose(-90.0, 90.0), Gen.choose(-180.0, 180.0)))) { coords =>
      val rows = coords.zipWithIndex.map { case ((lat, lon), i) =>
        Row(i.toLong, "X", lat, lon, "2020-01-01 00:00:00")
      }
      val df = spark.createDataFrame(javaRows(rows), Schemas.rawGeo)
      val out = Cleaners.geo(df).select("coordinates").as[Seq[Double]].collect()
      assert(out.forall(_.length == 2))
      assert(out.map(_.head).sorted.toSeq == coords.map(_._1).sorted)
    }
  }

  test("property: argmax emits exactly one row per distinct key") {
    forSamples(Gen.listOfN(60, Gen.zip(Gen.choose(0, 9), Gen.choose(0L, 20L)))) { pairs =>
      val df = pairs.zipWithIndex
        .map { case ((k, cnt), i) => (k, s"v$i", cnt) }.toDF("k", "v", "cnt")
      val r = Ranking.argmax(df, Seq(col("k")), col("cnt"), col("v"))
      assert(r.count() == pairs.map(_._1).distinct.length.toLong)
    }
  }

  test("property: argmax row carries the group's true max measure") {
    forSamples(Gen.listOfN(40, Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 50L)))) { pairs =>
      val df = pairs.zipWithIndex
        .map { case ((k, cnt), i) => (k, s"v$i", cnt) }.toDF("k", "v", "cnt")
      val got = Ranking.argmax(df, Seq(col("k")), col("cnt"), col("v"))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val want = pairs.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(got == want)
    }
  }

  test("property: jaccard in [0,1] and pairs ordered doc_a < doc_b") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    forSamples(Gen.listOfN(8, docGen), n = 4) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong,
        t) }.toDF("doc_id", "text")
      val pairs = NearDup.ngramJaccardPairs(df, col("doc_id"), col("text")).collect()
      assert(pairs.forall { r =>
        val j = r.getAs[Double]("jaccard")
        j >= 0.0 && j <= 1.0 && r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")
      })
    }
  }

  test("property: minhash est_jaccard approximates exact jaccard on dup-heavy corpora") {
    // clusters of identical docs: every same-cluster pair must surface
    // with est_jaccard == jaccard == 1.0
    val clusterGen = Gen.listOfN(3,
      Gen.listOfN(10, Gen.oneOf("red", "green", "blue", "cyan", "teal", "pink",
        "onyx", "jade", "ruby", "opal")).map(_.mkString(" ")))
    forSamples(clusterGen, n = 4) { clusterTexts =>
      val docs = clusterTexts.zipWithIndex.flatMap { case (t, c) =>
        Seq((c * 10L, t), (c * 10L + 1L, t))
      }.toDF("doc_id", "text")
      val found = NearDup.minhashNearDup(docs, col("doc_id"), col("text"))
        .filter(col("jaccard") === 1.0)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      clusterTexts.indices.foreach { c =>
        assert(found.contains((c * 10L, c * 10L + 1L)),
          s"identical pair in cluster $c not surfaced")
      }
    }
  }

  // ------------------------------------------------------------------
  // Corpus operator properties (round 2)

  private val wordGen: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val textGen: Gen[String] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("property: chunks reassemble the document for any size/stride") {
    import graft.operators.Corpus
    val cfg = for {
      size   <- Gen.choose(1, 30)
      stride <- Gen.choose(1, 30).map(math.min(_, size)) // stride <= size
      texts  <- Gen.listOfN(12, textGen)
    } yield (size, stride, texts)
    forSamples(cfg, n = 6) { case (size, stride, texts) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val chunks = Corpus.chunk(docs, col("doc_id"), col("text"), size, stride)
        .collect().groupBy(_.getAs[Long]("doc_id"))
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split(" ", -1)
        val mine = chunks(i.toLong).sortBy(_.getAs[Long]("chunk_start"))
        // stride-prefix concatenation reproduces the token stream
        val rebuilt = mine.flatMap(r =>
          r.getAs[String]("chunk_text").split(" ", -1).take(stride))
        assert(rebuilt.toSeq == toks.toSeq, s"size=$size stride=$stride doc=$i")
      }
    }
  }

  test("property: hash buckets are stable, in-range, and roughly uniform") {
    import graft.operators.Corpus
    forSamples(Gen.choose(100L, 100000L), n = 6) { start =>
      val ids = (start until start + 500L).toDF("id")
      val buckets = ids.select(Corpus.hashBucket(col("id")).as("b"))
        .as[Long].collect()
      assert(buckets.forall(b => b >= 0 && b < 100))
      // uniformity: no bucket takes more than 5x its fair share
      val maxShare = buckets.groupBy(identity).values.map(_.length).max
      assert(maxShare <= 25, s"hot bucket of $maxShare/500")
    }
  }

  test("property: normalized dedup is idempotent and conserves rows") {
    import graft.operators.Dedup
    forSamples(Gen.listOfN(40, textGen), n = 4) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = Dedup.normalizedText(docs, col("text"), col("doc_id"))
      assert(once.agg(sum(col("n_dups"))).as[Long].head() == texts.length.toLong)
      // every keep_id is a real doc id and appears once
      val keeps = once.select("keep_id").as[Long].collect()
      assert(keeps.distinct.length == keeps.length)
      assert(keeps.forall(k => k >= 0 && k < texts.length))
    }
  }

  test("property: contamination pairs are side-symmetric with identical n_shared") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val textGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    forSamples(Gen.listOfN(20, textGen), n = 4) { texts =>
      val (l, r) = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .splitAt(10)
      val left = l.toDF("doc_id", "text")
      val right = r.toDF("doc_id", "text")
      def pairsOf(a: org.apache.spark.sql.DataFrame,
                  b: org.apache.spark.sql.DataFrame) =
        NearDup.contaminationPairs(a, b, col("doc_id"), col("text"),
            minShared = 1)
          .collect()
          .map(x => (x.getAs[Long]("left_id"), x.getAs[Long]("right_id"),
            x.getAs[Long]("n_shared"))).toSet
      val fwd = pairsOf(left, right)
      val rev = pairsOf(right, left).map { case (a, b, n) => (b, a, n) }
      assert(fwd == rev, s"asymmetric contamination: ${fwd.diff(rev)}")
    }
  }

  test("property: sq8 ranking is deterministic across layouts, codes bounded") {
    val vecGen = Gen.listOfN(16, Gen.choose(-1000, 1000).map(_ / 250.0f))
    forSamples(Gen.listOfN(30, vecGen), n = 4) { vecs =>
      val cands = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "vec")
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Similarity.sq8TopK(df.filter(col("id") < 3), df, 4)
          .collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
            r.getAs[Long]("qdot"))).toSeq
      val a = run(cands)
      // scale = global max-abs: layout-independent, so re-partitioning
      // must not move a single code or flip a single rank
      val b = run(cands.repartition(7))
      assert(a == b, "sq8 ranking changed under repartition")
      assert(a.forall { case (_, _, d) => math.abs(d) <= 127L * 127L * 16L })
    }
  }

  private val bpeWordGen: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val randCorpusGen: Gen[Seq[String]] =
    Gen.listOfN(12, Gen.choose(3, 25).flatMap(n =>
      Gen.listOfN(n, bpeWordGen).map(_.mkString(" "))))

  test("property: BM25 score rises with tf and falls with doc length") {
    import graft.operators.Retrieval
    forSamples(randCorpusGen, n = 6) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, s"needle $t") } // every doc matches
        .toDF("doc_id", "text")
      def score(extra: Seq[(Long, String)]) =
        Retrieval.bm25Scores(
            docs.unionByName(extra.toDF("doc_id", "text")),
            col("doc_id"), col("text"), Seq("needle"))
          .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
      // same dl, higher tf → strictly higher score (100/101 share length)
      val tfPair = score(Seq(
        (100L, "needle needle pad pad"), (101L, "needle pad pad pad")))
      assert(tfPair(100L) > tfPair(101L), "tf monotonicity violated")
      // same tf, longer doc → strictly lower score (the b dial)
      val dlPair = score(Seq(
        (100L, "needle pad"), (101L, "needle pad pad pad pad pad")))
      assert(dlPair(100L) > dlPair(101L), "length normalization violated")
    }
  }

  test("property: BPE token counts sit between word count and char count, monotone in k") {
    import graft.operators.Bpe
    forSamples(randCorpusGen, n = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val whitespace = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split(" ").filter(_.nonEmpty) }.toMap
      def counts(k: Int) =
        Bpe.tokenCounts(docs, col("doc_id"), col("text"),
            Bpe.train(docs, col("text"), k))
          .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      val c2 = counts(2); val c5 = counts(5)
      whitespace.foreach { case (id, words) =>
        val chars = words.map(_.length.toLong).sum
        // a word is never fewer than 1 token, never more than its chars
        assert(c5(id) >= words.length.toLong && c5(id) <= chars)
        // more merges can only shrink (or keep) the token count
        assert(c5(id) <= c2(id), "extra merges must never add tokens")
      }
    }
  }

  // ---- RRF fusion vs a plain-Scala reference ----------------------------

  /** Reference RRF, straight off Cormack 2009 with the engine's decimal
    * discipline: rank = position under (score desc, doc asc), each term
    * 1/(c+rank) rounded to DECIMAL(27,10) HALF_UP before the sum.
    */
  private def rrfRef(rankings: Seq[Seq[(Long, Long, Double)]], k: Int,
                     c: Int = 60): Seq[(Long, Long, Long, Double)] = {
    val contribs = rankings.flatMap { r =>
      r.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(t => (-t._3, t._2)).zipWithIndex.map { case ((_, d, _), i) =>
          (q, d, BigDecimal(1.0 / (c + i + 1))
            .setScale(10, BigDecimal.RoundingMode.HALF_UP))
        }
      }
    }
    contribs.groupBy(t => (t._1, t._2)).toSeq
      .map { case ((q, d), cs) => (q, d, cs.size.toLong, cs.map(_._3).sum.toDouble) }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._4, t._2)).take(k)
      }
      .sortBy(t => (t._1, -t._4, t._2))
  }

  // per query: up to 6 distinct docs of 12, scores from a small grid so
  // exact ties (the doc_id tie-break path) occur routinely
  private val rankerGen: Gen[Seq[(Long, Long, Double)]] = {
    val perQuery = for {
      m <- Gen.choose(0, 6)
      docs <- Gen.pick(m, 1 to 12)
      scores <- Gen.listOfN(m, Gen.choose(1, 6))
    } yield docs.toSeq.zip(scores).map { case (d, s) => (d.toLong, s / 2.0) }
    for (a <- perQuery; b <- perQuery) yield
      a.map(t => (0L, t._1, t._2)) ++ b.map(t => (1L, t._1, t._2))
  }

  test("property: rrfFuse ≡ the reference fusion on random overlapping " +
      "rankings (1-3 rankers, ties included), and is input-order invariant") {
    val inputGen = for {
      n <- Gen.choose(1, 3)
      rs <- Gen.listOfN(n, rankerGen)
    } yield rs
    forSamples(inputGen, n = 10) { rankings =>
      if (rankings.exists(_.nonEmpty)) {
        val dfs = rankings.map(r =>
          r.toDF("query_id", "doc_id", "score"))
        val got = graft.operators.Retrieval.rrfFuse(dfs, k = 5)
          .as[(Long, Long, Long, Double)].collect().toSeq
        assert(got == rrfRef(rankings, k = 5), s"fusion diverged on $rankings")
        // membership: fusion never invents a (query, doc) pair
        val inputPairs = rankings.flatten.map(t => (t._1, t._2)).toSet
        assert(got.forall(g => inputPairs.contains((g._1, g._2))))
        // row order within each ranking is irrelevant (ranks re-derive
        // from scores, not from input order)
        val shuffled = rankings.map(r => r.reverse)
          .map(r => r.toDF("query_id", "doc_id", "score"))
        assert(graft.operators.Retrieval.rrfFuse(shuffled, k = 5)
          .as[(Long, Long, Long, Double)].collect().toSeq == got)
      }
    }
  }

  test("property: hashEmbed is linear in the token multiset and every " +
      "token contributes exactly one ±1 cell") {
    val tokGen = Gen.choose(1, 6)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    forSamples(Gen.zip(Gen.listOfN(6, tokGen), Gen.listOfN(6, tokGen)),
        n = 6) { case (a, b) =>
      val docs = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")),
        (3L, (a ++ b).mkString(" ")))
        .toDF("doc_id", "text")
      val v = graft.operators.Corpus.hashEmbed(docs, col("doc_id"),
          col("text"), dim = 8)
        .as[(Long, Seq[Double])].collect().toMap
      // linearity: v(a ⊎ b) = v(a) + v(b) componentwise, exactly
      assert(v(3L) == v(1L).zip(v(2L)).map { case (x, y) => x + y })
      // mass conservation: Σ|cells| ≤ token count, ≡ mod 2 alignment
      // (opposite-sign collisions cancel in pairs)
      val mass = v(1L).map(math.abs).sum
      assert(mass <= a.size && (a.size - mass) % 2 == 0)
    }
  }

  test("property: assembleContext spans are disjoint per (query, doc), " +
      "in-bounds, budget-bounded, and cover every surviving chunk") {
    val lens = Map(1L -> 30L, 2L -> 45L, 3L -> 60L)
    val chunkGen = Gen.zip(Gen.choose(1L, 3L),            // doc_id
      Gen.choose(0, 6).map(i => 1L + 8 * i),              // chunk_start grid
      Gen.choose(1, 1000).map(_ / 1000.0))                // rrf
    forSamples(Gen.listOfN(10, chunkGen), n = 8) { raw =>
      val fused = raw.distinctBy(c => (c._1, c._2))
        // a real retrieval never emits a chunk past its doc's end —
        // assembleContext refuses those loudly (asserted below)
        .filter(c => c._2 <= lens(c._1))
        .map { case (d, s, r) => (7L, d, s, r) }
      if (fused.nonEmpty) {
        val docs = Seq((1L, 30), (2L, 45), (3L, 60))
          .map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
          .toDF("doc_id", "text")
        val got = graft.operators.Retrieval.assembleContext(
            fused.toDF("query_id", "doc_id", "chunk_start", "rrf"),
            docs, col("doc_id"), col("text"),
            size = 16, budget = 64, maxPerDoc = 3)
          .as[(Long, Long, Long, Long, Long, Double, Long)].collect().toSeq
        // budget and bounds
        assert(got.forall(_._7 <= 64L), s"budget exceeded: $got")
        got.foreach { r =>
          assert(r._3 >= 1L && r._4 <= lens(r._2) && r._3 <= r._4,
            s"span out of bounds: $r")
        }
        // disjoint per (query, doc): sorted spans never overlap or touch
        got.groupBy(_._2).values.foreach { spans =>
          spans.sortBy(_._3).sliding(2).foreach {
            case Seq(x, y) => assert(y._3 > x._4 + 1,
              s"spans must be disjoint and non-adjacent after merge: $x $y")
            case _ =>
          }
        }
        // every emitted span covers at least one input chunk's start
        val starts = fused.map(c => (c._2, c._3)).toSet
        got.foreach { r =>
          assert(starts.exists { case (d, s) =>
            d == r._2 && s >= r._3 && s <= r._4 },
            s"span covers no input chunk: $r")
        }
      }
    }
    // a chunk starting past its document's end = ranking/corpus
    // disagreement — refused loudly, never a negative-length span
    // (found by this property's first run: the clip used to emit a
    // span of negative token count that corrupted the budget cumsum)
    val docs = Seq((1L, Seq.fill(10)("w").mkString(" "))).toDF("doc_id", "text")
    val bad = Seq((7L, 1L, 49L, 0.9))
      .toDF("query_id", "doc_id", "chunk_start", "rrf")
    val e = intercept[Exception] {
      graft.operators.Retrieval.assembleContext(bad, docs, col("doc_id"),
        col("text"), size = 16, budget = 64).collect()
    }
    assert(e.getMessage.contains("past its document's end") ||
      Option(e.getCause).exists(_.getMessage.contains("past its document's end")))
  }

  test("property: the forward-index serve paths are row-identical to the " +
      "corpus-scan forms over random corpora and span sets") {
    // distinct words per position so a slicing off-by-one can never
    // alias to the right answer
    val docGen = Gen.zip(Gen.choose(5, 40), Gen.choose(0, 999))
    forSamples(Gen.listOfN(6, docGen), n = 6) { raw =>
      val docs = raw.zipWithIndex.map { case ((len, salt), i) =>
        (i.toLong + 1, (1 to len).map(p => s"w${salt}_$p").mkString(" "))
      }
      val lens = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
      val docsDf = docs.toDF("doc_id", "text")
      val fdir = java.nio.file.Files.createTempDirectory("prop_fwd").toString
      Index.build(Index.ForwardSpec(nPartDirs = 3),
        Index.Text(docsDf, col("doc_id"), col("text")), fdir): Unit
      // random valid spans over the corpus
      val spans = docs.flatMap { case (id, _) =>
        val L = lens(id)
        Seq((7L, id, 1L, math.min(4L, L), 0.9),
          (7L, id, math.max(1L, L - 2), L, 0.5))
      }.distinct
      val packed = spans.toDF("query_id", "doc_id", "span_start",
        "span_end", "score")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSeq
      assert(rows(graft.operators.Retrieval.contextTextsIndexed(
          spark, packed, fdir)) ==
        rows(graft.operators.Retrieval.contextTexts(packed, docsDf,
          col("doc_id"), col("text"))))
      val fused = docs.map { case (id, _) =>
        (7L, id, 1L, 1.0 / (id + 1)) }
        .toDF("query_id", "doc_id", "chunk_start", "rrf")
      assert(rows(graft.operators.Retrieval.assembleContextIndexed(
          spark, fused, fdir, size = 8, budget = 64, maxPerDoc = 2)) ==
        rows(graft.operators.Retrieval.assembleContext(fused, docsDf,
          col("doc_id"), col("text"), size = 8, budget = 64, maxPerDoc = 2)))
    }
  }
}
