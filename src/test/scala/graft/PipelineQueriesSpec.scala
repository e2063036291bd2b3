package graft

import org.apache.spark.sql.functions._
import graft.operators.{Corpus, NearDup, Upsert}

/** Semantics checks for the corpus pipeline operators (PipelineQueries
  * q69–q73) on sf0.001 testdata.
  */
class PipelineQueriesSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q69 tfidf: scores match a literal recomputation on a tiny corpus") {
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "a b b d"),
      (3L, "c c c c")).toDF("doc_id", "text")
    val scored = Corpus.tfidf(docs, col("doc_id"), col("text"))
      .select("doc_id", "tok", "tfidf").as[(Long, String, Double)].collect()
      .map { case (d, t, s) => (d, t) -> s }.toMap
    def idf(df: Int) = math.log(3.0 / df)
    // "a": df=2; doc1 tf=2, doc2 tf=1. "c": df=2; doc3 tf=4. "d": df=1.
    assert(math.abs(scored((1L, "a")) - 2 * idf(2)) < 1e-12)
    assert(math.abs(scored((2L, "a")) - 1 * idf(2)) < 1e-12)
    assert(math.abs(scored((3L, "c")) - 4 * idf(2)) < 1e-12)
    assert(math.abs(scored((2L, "d")) - 1 * idf(1)) < 1e-12)
    // a term present in every doc scores exactly zero
    val everywhere = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val z = Corpus.tfidf(everywhere, col("doc_id"), col("text"))
      .select("tfidf").as[Double].collect()
    assert(z.forall(_ == 0.0))
  }

  test("q70 chunks cover every token; overlap equals size - stride") {
    val r = PipelineQueries.q70Chunk(spark, dir)
      .as[(Long, Long, Long, String)].collect()
    val texts = Tables.documents(spark, dir).filter(col("doc_id") < 50)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    r.groupBy(_._1).foreach { case (docId, chunks) =>
      val tokens = texts(docId).split(" ")
      val sorted = chunks.sortBy(_._2)
      // starts advance by exactly the stride, beginning at 1
      assert(sorted.map(_._2).toSeq ==
        (1L to tokens.length.toLong by 15L).toSeq)
      sorted.foreach { case (_, start, nTok, text) =>
        val expected = tokens.slice(start.toInt - 1, start.toInt - 1 + 20)
        assert(text == expected.mkString(" "))
        assert(nTok == expected.length.toLong)
      }
      // concatenating non-overlapping prefixes of each chunk rebuilds the doc
      val rebuilt = sorted.flatMap { case (_, start, _, text) =>
        text.split(" ").take(15) // stride-sized prefix
      }
      assert(rebuilt.toSeq == tokens.toSeq)
    }
  }

  test("q71 bigram counts equal a driver-side recount on a sample") {
    val got = PipelineQueries.q71TopBigrams(spark, dir)
      .as[(String, Long)].collect()
    val all = Tables.documents(spark, dir).select("text").as[String].collect()
      .flatMap(t => t.split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val expectedTop = all.toSeq.sortBy { case (ng, n) => (-n, ng) }.take(20)
    assert(got.toSeq == expectedTop)
  }

  test("q72 scrub masks globally, not just the first match") {
    val df = Seq((1L, "a1b22c333")).toDF("k", "s")
    val r = df.select(Corpus.scrub(col("s"), "[0-9]", "#").as("m")).as[String].head()
    assert(r == "a#b##c###")
  }

  test("q74 merge: update replaces, insert adds, untouched rows carry over; idempotent") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val updates = Seq((2L, "B", 22.0), (9L, "z", 99.0)).toDF("k", "s", "v")
    val merged = Upsert.merge(target, updates, Seq("k"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(merged.toSeq == Seq(
      (1L, "a", 10.0), (2L, "B", 22.0), (3L, "c", 30.0), (9L, "z", 99.0)))
    // merging the same batch again changes nothing
    val twice = Upsert.merge(Upsert.merge(target, updates, Seq("k")), updates, Seq("k"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(twice.toSeq == merged.toSeq)
    // updates derived from the target (self-lineage) must not be ambiguous
    val derived = target.filter(col("k") === 1L).withColumn("v", col("v") * 2)
    val selfMerged = Upsert.merge(target, derived, Seq("k"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(selfMerged.toSeq == Seq((1L, "a", 20.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // delete drops exactly the tombstoned keys
    val afterDelete = Upsert.delete(target, Seq(2L).toDF("k"), Seq("k"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(afterDelete.toSeq == Seq((1L, "a", 10.0), (3L, "c", 30.0)))
  }

  test("q75 row ids are a 1..N permutation in key order, layout-independent") {
    import graft.operators.Ids
    val orders = Tables.orders(spark, dir)
    val ids = Ids.stableRowIds(orders, Seq(col("o_orderkey")), "o_orderkey")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(ids.map(_._1).toSeq == (1L to orders.count()).toSeq)
    // rid order is exactly o_orderkey order
    assert(ids.map(_._2).toSeq == ids.map(_._2).sorted.toSeq)
    // identical assignment from a deliberately different physical layout
    val shuffled = Ids.stableRowIds(orders.repartition(13), Seq(col("o_orderkey")), "o_orderkey")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(shuffled.toSeq == ids.toSeq)
  }

  test("q76 cumulative users are monotone and end at the total distinct count") {
    val r = PipelineQueries.q76CumulativeUsers(spark, dir)
      .as[(java.sql.Date, Long, Long)].collect()
    assert(r.map(_._3).toSeq == r.map(_._3).sorted.toSeq)
    assert(r.map(_._2).sum == r.last._3)
    assert(r.last._3 ==
      Tables.events(spark, dir).select("user_id").distinct().count())
  }

  test("q81 connected components: known graph, chains, singletons, conservation") {
    import graft.operators.Graph
    // chain 1-2-3, pair 5-6, singleton 9: the chain forces propagation
    // beyond one hop (label 1 must travel two edges to reach 3)
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val got = Graph.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
    // a long chain converges within maxIter via doubling-free propagation
    val n = 12
    val chainNodes = (1L to n.toLong).toDF("node")
    val chainEdges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val chain = Graph.connectedComponents(chainNodes, chainEdges, maxIter = n + 2)
      .as[(Long, Long)].collect()
    assert(chain.forall(_._2 == 1L))
    // on the real corpus: component count + membership conservation
    val comp = PipelineQueries.q81Components(spark, dir).collect()
    assert(comp.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, dir).count())
    // every component id is a member of its own cluster (min-label def)
    assert(comp.forall(r => r.getAs[Long]("n_docs") >= 1L))
  }

  test("q154 pageRank: hand-computed star (dangling hub), ring fixpoint, " +
      "mass conserves WITH danglers, layout") {
    import graft.operators.Graph
    def ranks(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int) =
      Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), iters)
        .as[(Long, Double)].collect().toMap

    // star 2→1, 3→1: hub 1 has no out-edges — DANGLING. Its mass
    // redistributes uniformly: r1(1) = 0.15 + 0.85·(1 + 1 + 1/3);
    // sources get only the dangling share: r1(2) = 0.15 + 0.85·(1/3)
    val star1 = ranks(Seq(1L, 2L, 3L), Seq((2L, 1L), (3L, 1L)), 1)
    assert(math.abs(star1(1L) - (0.15 + 0.85 * (2.0 + 1.0 / 3))) < 1e-9)
    assert(math.abs(star1(2L) - (0.15 + 0.85 / 3)) < 1e-9)
    // round 2 by hand off round 1's values: dangling mass = r1(1)
    val star2 = ranks(Seq(1L, 2L, 3L), Seq((2L, 1L), (3L, 1L)), 2)
    assert(math.abs(star2(1L) -
      (0.15 + 0.85 * (star1(2L) + star1(3L) + star1(1L) / 3))) < 1e-9)

    // directed ring: r/1 flows around unchanged — 1.0 is the exact
    // fixpoint at every iteration count (no danglers, D = 0)
    val ring = ranks(Seq(1L, 2L, 3L, 4L),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), 7)
    assert(ring.values.forall(_ == 1.0))

    // total rank mass conserves at |V| — WITHOUT danglers...
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (2L, 4L))
    val conserved = ranks(Seq(1L, 2L, 3L, 4L), g, 6)
    assert(math.abs(conserved.values.sum - 4.0) < 1e-6)
    // ...AND with them (the round-8 leak, closed): a path graph's sink
    // plus an isolated node both redistribute instead of draining
    val withDanglers = ranks(Seq(1L, 2L, 3L, 9L), Seq((1L, 2L), (2L, 3L)), 4)
    assert(math.abs(withDanglers.values.sum - 4.0) < 1e-6,
      s"dangling mass must fold back, got sum ${withDanglers.values.sum}")

    // layout-independent (DECIMAL contribution + dangling sums)
    val e2 = g.toDF("src", "dst").repartition(7)
    assert(Graph.pageRank(Seq(1L, 2L, 3L, 4L).toDF("id"), e2, 6)
      .as[(Long, Double)].collect().toMap == conserved)
  }

  test("pageRankUntil: converges to the fixed-iteration ranks, conserves " +
      "mass, throws past maxIter") {
    import graft.operators.Graph
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    // mixed graph with a dangling sink (5) and a cycle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 5L), (4L, 1L))
      .toDF("src", "dst")
    val settled = Graph.pageRankUntil(nodes, edges, tol = 1e-9, maxIter = 200)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(settled.values.sum - 5.0) < 1e-6)
    // a long fixed run lands within tol of the converged ranks
    val fixed = Graph.pageRank(nodes, edges, iters = 120)
      .as[(Long, Double)].collect().toMap
    settled.foreach { case (id, pr) =>
      assert(math.abs(pr - fixed(id)) < 1e-7, s"node $id: $pr vs ${fixed(id)}")
    }
    // an impossible budget refuses rather than returning half-converged
    val ex = intercept[IllegalStateException] {
      Graph.pageRankUntil(nodes, edges, tol = 1e-12, maxIter = 2)
    }
    assert(ex.getMessage.contains("no convergence"))
  }

  test("corpus operators handle degenerate documents") {
    import graft.operators.NearDup
    val docs = Seq((1L, ""), (2L, "solo"), (3L, "a b")).toDF("doc_id", "text")
    // chunking: every doc yields exactly one chunk when shorter than
    // a window (the empty string tokenizes to one empty token)
    val chunks = Corpus.chunk(docs, col("doc_id"), col("text"), 20, 15)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet == Set(1L, 2L, 3L))
    assert(chunks.values.forall(_.length == 1))
    assert(chunks(3L).head.getAs[String]("chunk_text") == "a b")
    // bigrams: docs with < 2 tokens contribute nothing
    val bgs = Corpus.bigramCounts(docs, col("text")).collect()
    assert(bgs.map(r => (r.getAs[String]("ngram"), r.getAs[Long]("n"))).toSeq ==
      Seq(("a b", 1L)))
    // 3-gram shingles of < 3-token docs are empty, not an error
    val sh = docs.select(NearDup.shingleHashes3(col("text")).as("s"))
      .as[Seq[Long]].collect()
    assert(sh.forall(_.isEmpty))
    // tfidf of an empty corpus column degenerates cleanly
    val scores = Corpus.tfidf(docs, col("doc_id"), col("text"))
      .select("tok").as[String].collect().toSet
    assert(scores == Set("", "solo", "a", "b"))
  }

  test("q90 repetition stats: exact values on crafted docs, degenerate edges") {
    val docs = Seq(
      (1L, "a a a a"),          // maximally repetitive
      (2L, "w x y z"),          // all distinct
      (3L, "a b a b a b"),      // alternating: bigrams repeat
      (4L, "solo")).toDF("doc_id", "text") // single token: no bigrams
    val r = Corpus.repetitionStats(docs, col("doc_id"), col("text"))
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Double]("distinct_ratio"),
          x.getAs[Double]("top_token_frac"), x.getAs[Double]("top_bigram_frac")))
      .toMap
    assert(r(1L) == ((4L, 0.25, 1.0, 1.0)))           // "a a" ×3 of 3
    assert(r(2L) == ((4L, 1.0, 0.25, 1.0 / 3.0)))     // every bigram unique
    assert(r(3L) == ((6L, 1.0 / 3.0, 0.5, 3.0 / 5.0))) // "a b" ×3 of 5
    assert(r(4L) == ((1L, 1.0, 1.0, 0.0)))            // no bigrams → 0.0
    // verdict thresholds fire on the designed-repetitive docs
    val verdicts = Corpus.repetitionStats(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), Corpus.isRepetitive(col("distinct_ratio"),
        col("top_token_frac"), col("top_bigram_frac")).as("v"))
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts(1L) && verdicts(3L))
    // non-default thresholds move the verdict boundary: an all-permissive
    // dial acquits everything, a draconian one convicts everything
    def verdictAt(minDr: Double, maxTt: Double, maxTb: Double) =
      Corpus.repetitionStats(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), Corpus.isRepetitive(col("distinct_ratio"),
          col("top_token_frac"), col("top_bigram_frac"),
          minDistinctRatio = minDr, maxTopTokenFrac = maxTt,
          maxTopBigramFrac = maxTb).as("v"))
        .as[(Long, Boolean)].collect().toMap
    val lax = verdictAt(0.0, 1.0, 1.0)
    assert(lax.values.forall(!_), s"lax thresholds must acquit all: $lax")
    val strict = verdictAt(2.0, 0.0, 0.0)
    assert(strict.values.count(identity) == 4, s"strict convicts all: $strict")
  }

  test("row-local repetition stats equal the aggregation form on the real corpus") {
    val docs = Tables.documents(spark, dir)
    val agg = Corpus.repetitionStats(docs, col("doc_id"), col("text"))
      .select("doc_id", "distinct_ratio", "top_token_frac", "top_bigram_frac")
    val local = docs
      .withColumn("__toks", graft.functions.TextOps.tokens(col("text")))
      .withColumn("r", Corpus.repetitionStatsLocal(col("__toks")))
      .select(col("doc_id"), col("r")("distinct_ratio").as("distinct_ratio"),
        col("r")("top_token_frac").as("top_token_frac"),
        col("r")("top_bigram_frac").as("top_bigram_frac"))
    // exact integer ratios on both sides — equality, not tolerance
    assert(agg.exceptAll(local).isEmpty && local.exceptAll(agg).isEmpty,
      "HOF form diverged from the aggregation form")
  }

  test("q73 stratified sample: per-stratum subset, deterministic, ≈20%") {
    val r = PipelineQueries.q73StratifiedSample(spark, dir)
      .as[(String, Long, Long)].collect()
    r.foreach { case (_, total, sampled) => assert(sampled <= total) }
    val (tot, samp) = (r.map(_._2).sum, r.map(_._3).sum)
    assert(math.abs(samp.toDouble / tot - 0.2) < 0.08,
      s"sample fraction ${samp.toDouble / tot} far from 0.2")
    // deterministic: the same ids are chosen on every evaluation
    val ids1 = Corpus.stratifiedSample(Tables.documents(spark, dir), col("doc_id"), 20)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Corpus.stratifiedSample(
        Tables.documents(spark, dir).repartition(7), col("doc_id"), 20)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
  }

  test("q126 mixtureSample: epoch fan-out exact, fractional arm deterministic, absent domain dropped") {
    val docs = Tables.documents(spark, dir)
    val w = Map("en" -> 2.5, "zh" -> 1.0, "es" -> 0.5, "de" -> 0.25)
    val mixed = Corpus.mixtureSample(docs, col("lang"), col("doc_id"), w)
    // absent domain vanishes; listed domains keep their full epochs
    assert(mixed.filter(col("lang") === "fr").isEmpty, "weight-0 domain leaked")
    val perLangEpoch = mixed.groupBy("lang", "epoch").count()
      .as[(String, Int, Long)].collect()
      .map { case (l, e, n) => (l, e) -> n }.toMap
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    // full epochs contain every doc of the domain
    assert(perLangEpoch(("en", 0)) == totals("en"))
    assert(perLangEpoch(("en", 1)) == totals("en"))
    assert(perLangEpoch(("zh", 0)) == totals("zh"))
    // the fractional arm is the md5 basis-point sample, recomputed here
    def fracCount(lang: String, bp: Int): Long = docs
      .filter(col("lang") === lang)
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10000 < bp)
      .count()
    assert(perLangEpoch(("en", 2)) == fracCount("en", 5000))
    assert(perLangEpoch(("es", 0)) == fracCount("es", 5000))
    assert(perLangEpoch(("de", 0)) == fracCount("de", 2500))
    assert(!perLangEpoch.contains(("zh", 1)) && !perLangEpoch.contains(("es", 1)))
    // deterministic under physical layout
    val again = Corpus.mixtureSample(docs.repartition(7), col("lang"),
      col("doc_id"), w).select("doc_id", "lang", "epoch")
    val base = mixed.select("doc_id", "lang", "epoch")
    assert(base.exceptAll(again).isEmpty && again.exceptAll(base).isEmpty)
  }

  test("q127 trainerExport: token conservation per source; mixture arithmetic holds") {
    import graft.functions.TextOps
    import graft.operators.Curation.minQuality
    val docs = Tables.documents(spark, dir)
    val got = PipelineQueries.q127TrainerExport(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // independent recompute of the pre-packing stages (no packSequences):
    // exported tokens per source must equal the mixed copies' token sum —
    // packing lost and invented nothing
    val clean = docs.filter(TextOps.langId(col("text")) === "en" &&
      TextOps.qualityScore(col("text"), col("n_chars")) >= minQuality)
    val keep = clean.groupBy(TextOps.normalized(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val mixed = Corpus.mixtureSample(clean.join(keep, Seq("doc_id")),
      col("source"), col("doc_id"),
      Map("src0" -> 2.5, "src1" -> 2.0, "src2" -> 1.5, "src3" -> 1.0,
          "src4" -> 1.0, "src5" -> 0.75, "src6" -> 0.5, "src7" -> 0.25))
    val expect = mixed.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_copies"),
        sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == expect.keySet, "source sets differ")
    got.foreach { case (src, (_, nDocs, nCopies, nTokens, nSeqs)) =>
      val (_, eDocs, eCopies, eTokens) = expect(src)
      assert(nDocs == eDocs, s"$src: docs $nDocs != $eDocs")
      assert(nCopies == eCopies, s"$src: copies $nCopies != $eCopies")
      assert(nTokens == eTokens, s"$src: tokens $nTokens != $eTokens")
      // a source's tokens can't occupy fewer sequences than its budget floor
      assert(nSeqs >= nTokens / 512, s"$src: $nSeqs seqs for $nTokens tokens")
    }
  }

  test("TrainingExport app: written artifacts reconcile — budget-exact shards, manifest totals match") {
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    val stats = graft.app.TrainingExport.run(spark, dir, out, shards = 4)
    val seqs = spark.read.parquet(s"$out/sequences")
    assert(stats.nSequences > 0 && stats.nSequences == seqs.count())
    // every sequence except the last is budget-exact; texts agree with counts
    val perSeq = seqs.orderBy("seq_id").select("seq_id", "n_tok")
      .as[(Long, Long)].collect()
    assert(perSeq.dropRight(1).forall(_._2 == 512L), "a non-final shard row missed budget")
    assert(perSeq.map(_._1).toSeq == perSeq.indices.map(_.toLong), "seq ids not dense")
    assert(seqs.filter(graft.functions.TextOps.tokenCount(col("seq_text"))
      =!= col("n_tok")).isEmpty, "sequence text disagrees with token count")
    // manifest tokens = written tokens
    val manifestTokens = spark.read.parquet(s"$out/manifest")
      .agg(sum("n_tokens")).as[Long].head()
    assert(manifestTokens == stats.nTokens,
      s"manifest says $manifestTokens tokens, artifacts hold ${stats.nTokens}")
  }

  test("TrainingExport jsonl arm: line-delimited shards reconcile with the " +
      "parquet arm row-for-row; files are range shards; manifest rides along") {
    val outP = java.nio.file.Files.createTempDirectory("graft-export-p").toString
    val outJ = java.nio.file.Files.createTempDirectory("graft-export-j").toString
    val sp = graft.app.TrainingExport.run(spark, dir, outP, shards = 4)
    val sj = graft.app.TrainingExport.run(spark, dir, outJ, shards = 4,
      format = "jsonl")
    assert(sp == sj, s"arm stats diverged: parquet $sp vs jsonl $sj")
    // re-read both arms: identical rows (the encoding is the ONLY diff)
    val pq = spark.read.parquet(s"$outP/sequences")
      .select("seq_id", "n_tok", "n_docs", "seq_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val jl = spark.read.json(s"$outJ/sequences")
      .select(col("seq_id").cast("long"), col("n_tok").cast("long"),
        col("n_docs").cast("long"), col("seq_text"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(jl == pq, "jsonl shards must re-read to exactly the parquet rows")
    // layout contract: one .json part file per shard, each line one object
    val parts = new java.io.File(s"$outJ/sequences").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(parts.length == 4, s"expected 4 jsonl shards, got ${parts.length}")
    val firstLine = scala.io.Source.fromFile(parts.minBy(_.getName)).getLines()
      .buffered.headOption
    assert(firstLine.exists(l => l.startsWith("{") && l.endsWith("}")),
      s"shard lines must be bare JSON objects, got: $firstLine")
    // manifest totals carried into the jsonl arm too
    val manifestTokens = spark.read.json(s"$outJ/manifest")
      .agg(sum("n_tokens")).as[Long].head()
    assert(manifestTokens == sj.nTokens)
  }

  test("q165 packedIdSequences: budget-exact id shards; concatenation ≡ the " +
      "doc-ordered id stream; totals ≡ tokenCountsWithModel") {
    val docs = Tables.documents(spark, dir)
    val mdl = java.nio.file.Files.createTempDirectory("graft-bpe-mdl").toString
    graft.operators.Bpe.buildBpeModel(docs, col("text"), k = 6, mdl)
    val ids = graft.operators.Bpe.encodeIdsWithModel(
      spark, mdl, docs, col("doc_id"), col("text"))
    val seqs = graft.operators.Bpe.packedIdSequences(ids, budget = 64)
      .orderBy("seq_id")
      .as[(Long, Long, Long, Seq[Int])].collect()
    // every sequence except the final one holds EXACTLY the budget, and
    // the ids array agrees with the count on every row
    assert(seqs.nonEmpty)
    assert(seqs.dropRight(1).forall(_._4.size == 64),
      "a non-final sequence missed the id budget")
    assert(seqs.forall(s => s._4.size == s._2.toInt),
      "ids array disagrees with n_tok")
    assert(seqs.map(_._1).toSeq == seqs.indices.map(_.toLong), "seq ids not dense")
    // the shards concatenate back to exactly the doc-ordered id stream
    val stream = ids.orderBy("doc_id", "word_pos", "sym_pos")
      .select("tok_id").as[Int].collect().toSeq
    assert(seqs.flatMap(_._4).toSeq == stream,
      "sequence concatenation is not the doc-ordered id stream")
    // and the total reconciles with the provisioning count
    val total = graft.operators.Bpe.tokenCountsWithModel(
      spark, mdl, docs, col("doc_id"), col("text"))
      .agg(sum("n_tok")).as[Long].head()
    assert(stream.size.toLong == total)
  }

  test("TrainingExport model-token arm: shard totals ≡ tokenCountsWithModel " +
      "over the mixture; asOf reproduces the pre-retrain export bit-for-bit") {
    val docs = Tables.documents(spark, dir)
    val mdl = java.nio.file.Files.createTempDirectory("graft-bpe-mdl2").toString
    val out0 = java.nio.file.Files.createTempDirectory("graft-export-m0").toString
    // v0: a 2-merge tokenizer; export against it
    val v0 = graft.operators.Bpe.buildBpeModel(docs, col("text"), k = 2, mdl)
    val s0 = graft.app.TrainingExport.runModelTokens(spark, dir, out0, mdl,
      shards = 4, budget = 64)
    val seqs0 = spark.read.parquet(s"$out0/sequences")
    assert(s0.nSequences == seqs0.count() && s0.nSequences > 0)
    val perSeq = seqs0.orderBy("seq_id")
      .select("seq_id", "n_tok").as[(Long, Long)].collect()
    assert(perSeq.dropRight(1).forall(_._2 == 64L),
      "a non-final model-token shard missed budget")
    // shard totals ≡ the provisioning count over the SAME mixed stream
    val mixed = PipelineQueries.trainerExportMixed(spark, dir)
    val expectTokens = graft.operators.Bpe.tokenCountsWithModel(
      spark, mdl, mixed, col("mid"), col("text"))
      .agg(sum("n_tok")).as[Long].head()
    assert(s0.nTokens == expectTokens,
      s"export wrote ${s0.nTokens} model tokens, count says $expectTokens")
    // manifest rides the same numbers
    val manifestTokens = spark.read.parquet(s"$out0/manifest")
      .agg(sum("n_tokens")).as[Long].head()
    assert(manifestTokens == s0.nTokens)
    // retrain (k=6) bumps the model; the LATEST export differs (more
    // merges strictly shrink the id stream)…
    graft.operators.Bpe.buildBpeModel(docs, col("text"), k = 6, mdl)
    val out1 = java.nio.file.Files.createTempDirectory("graft-export-m1").toString
    val s1 = graft.app.TrainingExport.runModelTokens(spark, dir, out1, mdl,
      shards = 4, budget = 64)
    assert(s1.nTokens < s0.nTokens,
      s"retrained 6-merge export should hold fewer ids: ${s1.nTokens} vs ${s0.nTokens}")
    // …but the VERSION-PINNED export reproduces the original bit-for-bit
    val outA = java.nio.file.Files.createTempDirectory("graft-export-ma").toString
    val sA = graft.app.TrainingExport.runModelTokens(spark, dir, outA, mdl,
      shards = 4, budget = 64, modelAsOf = Some(v0))
    assert(sA == s0, s"asOf export stats diverged: $sA vs $s0")
    val rows0 = seqs0.select("seq_id", "n_tok", "n_docs", "ids")
      .as[(Long, Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val rowsA = spark.read.parquet(s"$outA/sequences")
      .select("seq_id", "n_tok", "n_docs", "ids")
      .as[(Long, Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(rowsA == rows0, "asOf export must reproduce the old shards exactly")
  }

  test("q119 packSequences: exact spans on a crafted stream; conservation + layout independence on the corpus") {
    // token counts 3, 3, 2 over budget 4: the concatenated stream is
    // cut at token 4 — doc 20 straddles the cut
    val tiny = Seq(
      (10L, "a b c"), (20L, "d e f"), (30L, "g h")).toDF("doc_id", "text")
    val got = Corpus.packSequences(tiny, col("doc_id"), col("text"), budget = 4)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (0L, 10L, 1L, 3L),  // doc 10 entirely in seq 0
      (0L, 20L, 1L, 1L),  // doc 20: first token fills seq 0
      (1L, 20L, 2L, 2L),  // …rest opens seq 1
      (1L, 30L, 1L, 2L))) // doc 30 entirely in seq 1

    val docs = Tables.documents(spark, dir)
    val packed = Corpus.packSequences(docs, col("doc_id"), col("text"), budget = 128)
    // conservation: every doc's contributions sum to its token count
    val perDoc = packed.groupBy("doc_id").agg(sum("n_tok_in_seq").as("s"))
    val counts = docs.select(col("doc_id"),
      graft.functions.TextOps.tokenCount(col("text")).as("n"))
    assert(perDoc.join(counts, "doc_id").filter(col("s") =!= col("n")).isEmpty,
      "token conservation violated")
    // every sequence except the last holds exactly the budget
    val perSeq = packed.groupBy("seq_id").agg(sum("n_tok_in_seq").as("s"))
      .orderBy("seq_id").as[(Long, Long)].collect()
    assert(perSeq.dropRight(1).forall(_._2 == 128L),
      "a non-final sequence missed its budget")
    assert(perSeq.last._2 <= 128L)
    assert(perSeq.map(_._1).toSeq == perSeq.indices.map(_.toLong),
      "sequence ids must be dense from 0")
    // the slice cumsum is layout-independent
    val again = Corpus.packSequences(docs.repartition(7), col("doc_id"),
      col("text"), budget = 128)
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
  }

  test("q122 packedSequenceTexts: exact texts on a crafted stream; reassembly matches spans on the corpus") {
    // same stream as the q119 case: budget 4 cuts "a b c d e f g h"
    // into two sequences, doc 20 straddling the cut
    val tiny = Seq(
      (10L, "a b c"), (20L, "d e f"), (30L, "g h")).toDF("doc_id", "text")
    val got = Corpus.packedSequenceTexts(tiny, col("doc_id"), col("text"), budget = 4)
      .as[(Long, Long, Long, String)].collect().sorted.toSeq
    assert(got == Seq(
      (0L, 4L, 2L, "a b c d"),
      (1L, 4L, 2L, "e f g h")))

    // real corpus: each sequence's text holds exactly n_tok tokens, and
    // the texts are the q119 spans realized — same per-seq token totals
    val docs = Tables.documents(spark, dir)
    val texts = Corpus.packedSequenceTexts(docs, col("doc_id"), col("text"), budget = 128)
    assert(texts.filter(
      graft.functions.TextOps.tokenCount(col("seq_text")) =!= col("n_tok")).isEmpty,
      "a sequence text disagrees with its token count")
    val spans = Corpus.packSequences(docs, col("doc_id"), col("text"), budget = 128)
      .groupBy("seq_id").agg(sum("n_tok_in_seq").as("n_tok"),
        count(lit(1)).as("n_docs"))
    val joined = texts.select("seq_id", "n_tok", "n_docs")
      .exceptAll(spans.select("seq_id", "n_tok", "n_docs"))
    assert(joined.isEmpty, "sequence texts disagree with q119 spans")
    // layout independence
    val again = Corpus.packedSequenceTexts(docs.repartition(7), col("doc_id"),
      col("text"), budget = 128)
    assert(texts.exceptAll(again).isEmpty && again.exceptAll(texts).isEmpty)
  }

  test("q120 dedupChunks: first occurrence survives, boilerplate docs vanish, chunks conserved") {
    val a = (1 to 4).map(i => s"a$i").mkString(" ")  // one 4-token chunk
    val b = (1 to 4).map(i => s"b$i").mkString(" ")
    val c = (1 to 4).map(i => s"c$i").mkString(" ")
    val tiny = Seq(
      (1L, s"$a $b"),   // first occurrence of A and B
      (2L, s"$a $c"),   // A is boilerplate here → keeps only C
      (3L, s"$a $b"))   // nothing new → vanishes
      .toDF("doc_id", "text")
    val got = Corpus.dedupChunks(tiny, col("doc_id"), col("text"), size = 4)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, 2L, s"$a $b"), (2L, 1L, c)))

    // real corpus: kept chunks = exactly one survivor per distinct chunk
    val docs = Tables.documents(spark, dir)
    val allChunks = Corpus.chunk(docs, col("doc_id"), col("text"), 16, 16)
    val kept = Corpus.dedupChunks(docs, col("doc_id"), col("text"), size = 16)
    val keptTotal = kept.agg(sum("n_kept")).as[Long].head()
    val distinctChunks = allChunks.select("chunk_text").distinct().count()
    assert(keptTotal == distinctChunks,
      s"kept $keptTotal chunks, expected one per distinct chunk ($distinctChunks)")
  }

  test("q128 lmScore: hand-computed add-one bigram likelihoods; corpus-like beats garble") {
    // corpus: "a b" twice, "x q" once → V = 4 tokens {a,b,x,q}
    //   c(a)=2, c(b)=2, c(x)=1, c(q)=1; c("a b")=2, c("x q")=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "x q")).toDF("doc_id", "text")
    val got = Corpus.lmScore(docs, col("doc_id"), col("text"))
      .select("doc_id", "n_bigrams", "avg_ll", "ppl")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(_._2 == 1L))
    val llAB = math.log((2 + 1).toDouble / (2 + 4))  // P(b|a) = 3/6
    val llXQ = math.log((1 + 1).toDouble / (1 + 4))  // P(q|x) = 2/5
    assert(math.abs(got(0)._3 - llAB) < 1e-9 && math.abs(got(1)._3 - llAB) < 1e-9)
    assert(math.abs(got(2)._3 - llXQ) < 1e-9)
    // the repeated (corpus-like) doc is less perplexing than the singleton
    assert(got(0)._4 < got(2)._4)
    // ppl = exp(-avg_ll), and a sub-2-token doc yields no row
    assert(got.forall(r => math.abs(r._4 - math.exp(-r._3)) < 1e-9))
    val one = Seq((1L, "solo")).toDF("doc_id", "text")
    assert(Corpus.lmScore(one, col("doc_id"), col("text")).count() == 0)
    // per-doc row count = tokens - 1 on the real corpus; layout-independent
    val real = Tables.documents(spark, dir)
    val scored = Corpus.lmScore(real, col("doc_id"), col("text"))
    val nb = scored.select("doc_id", "n_bigrams").as[(Long, Long)].collect().toMap
    val expect = real.select(col("doc_id"),
        (size(split(col("text"), " ")) - 1).cast("long"))
      .as[(Long, Long)].collect().toMap.filter(_._2 >= 1)
    assert(nb == expect)
    val again = Corpus.lmScore(real.repartition(7), col("doc_id"), col("text"))
    assert(scored.exceptAll(again).isEmpty && again.exceptAll(scored).isEmpty)
  }

  test("q129 dsirSelect: target-vocab docs outweigh off-vocab; selection enriches the target; deterministic") {
    // target slice speaks {t1,t2}, the rest speak {z1,z2}; a doc written
    // in target vocabulary must carry a higher importance weight.
    val docs = (1L to 20L).map { i =>
      if (i <= 5)       (i, "t1 t2 t1 t2", true)   // target slice
      else if (i <= 10) (i, "t1 t2 t2 t1", false)  // target-like raw docs
      else              (i, "z1 z2 z1 z2", false)  // off-target raw docs
    }.toDF("doc_id", "text", "is_t")
    val all = Corpus.dsirSelect(docs, col("doc_id"), col("text"),
      col("is_t"), k = 20, buckets = 64)
    val w = all.select("doc_id", "log_w").as[(Long, Double)].collect().toMap
    assert((1L to 10L).forall(i => (11L to 20L).forall(j => w(i) > w(j))),
      "every target-vocab doc must outweigh every off-vocab doc")
    // top-10 under Gumbel-perturbed weights = exactly the target-vocab docs
    // (the weight gap here dwarfs any Gumbel draw from the md5 uniform)
    val top10 = Corpus.dsirSelect(docs, col("doc_id"), col("text"),
      col("is_t"), k = 10, buckets = 64)
      .select("doc_id").as[Long].collect().toSet
    assert(top10 == (1L to 10L).toSet)
    // layout independence: same rows, same order keys
    val again = Corpus.dsirSelect(docs.repartition(7), col("doc_id"),
      col("text"), col("is_t"), k = 10, buckets = 64)
    assert(all.limit(10).exceptAll(again).isEmpty && again.exceptAll(all.limit(10)).isEmpty)
    // real corpus: the en-fraction of the selected set is enriched vs the corpus
    val real = Tables.documents(spark, dir)
    val sel = PipelineQueries.q129DsirSelect(spark, dir)
    val selEn = sel.filter(col("lang") === "en").count().toDouble / sel.count()
    val corpusEn = real.filter(col("lang") === "en").count().toDouble / real.count()
    assert(selEn > corpusEn,
      s"selected en-fraction $selEn must exceed corpus en-fraction $corpusEn")
  }

  test("q130 dupNgramStats: hand-computed fractions; within-doc repeats only count when shared; short docs absent") {
    val docs = Seq(
      (1L, "a b c d"),            // "a b c", "b c d"
      (2L, "a b c x"),            // "a b c", "b c x"
      (3L, "z z"),                // < 3 tokens → absent
      (4L, "a b c a b c a b c")   // 7 instances: 3×"a b c", 2×"b c a", 2×"c a b"
    ).toDF("doc_id", "text")
    val out = Corpus.dupNgramStats(docs, col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select("doc_id", "n_ngrams", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L), "doc 3 has no 3-grams")
    val byDoc = out.map(r => r._1 -> r).toMap
    // "a b c" lives in docs 1, 2, 4 → duplicated; every other 3-gram is
    // unique to its doc (doc 4's within-doc repeats of "b c a"/"c a b"
    // do NOT count — duplication is cross-document).
    assert(byDoc(1L) == ((1L, 2L, 1L, 0.5)))
    assert(byDoc(2L) == ((2L, 2L, 1L, 0.5)))
    assert(byDoc(4L)._2 == 7L && byDoc(4L)._3 == 3L &&
      math.abs(byDoc(4L)._4 - 3.0 / 7.0) < 1e-12)
  }

  test("q134 dupSpanStats: run lengths map to span tokens; scattered matches report 3; no-dup docs absent") {
    val docs = Seq(
      // docs 1 and 2 share the 5-token passage "p q r s t" → 3 consecutive
      // duplicated 3-grams → span = 3 + 2 = 5 tokens in both
      (1L, "a1 a2 p q r s t a3"),
      (2L, "b1 p q r s t b2 b3"),
      // doc 3 shares only the single 3-gram "x y z" with doc 4 (two
      // separated occurrences in doc 3 → two runs of length 1, span 3)
      (3L, "x y z m1 m2 x y z"),
      (4L, "x y z n1 n2 n3"),
      // doc 5 shares nothing
      (5L, "u1 u2 u3 u4 u5")).toDF("doc_id", "text")
    val out = Corpus.dupSpanStats(docs, col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select("doc_id", "n_runs", "max_span_tokens")
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L), "doc 5 has no duplicated 3-gram")
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(byDoc(1L) == ((1L, 1L, 5L)), "one run of 3 consecutive dup 3-grams = 5 tokens")
    assert(byDoc(2L) == ((2L, 1L, 5L)))
    assert(byDoc(3L) == ((3L, 2L, 3L)), "two separated single-3-gram runs, span 3 each")
    assert(byDoc(4L) == ((4L, 1L, 3L)))
  }

  test("q143 stripDupSpans: qualifying shared passages deleted, short matches kept, lone docs verbatim") {
    val shared = (1 to 10).map(i => s"p$i").mkString(" ") // 10-token passage
    val docs = Seq(
      (1L, s"a1 a2 $shared a3"),        // shares the 10-token passage…
      (2L, s"b1 $shared b2 b3"),        // …with doc 2 → span 10 ≥ 8 → stripped
      (3L, "x y z m1 m2"),              // shares only "x y z" with doc 4
      (4L, "x y z n1 n2 n3"),           //   → span 3 < 8 → kept
      (5L, "u1 u2 u3 u4 u5")            // shares nothing → verbatim
    ).toDF("doc_id", "text")
    val out = Corpus.stripDupSpans(docs, col("doc_id"), col("text"),
        minSpanTokens = 8)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect()
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(out.length == 5, "one row per input doc")
    assert(byDoc(1L) == ((1L, "a1 a2 a3", 10L)))
    assert(byDoc(2L) == ((2L, "b1 b2 b3", 10L)))
    assert(byDoc(3L) == ((3L, "x y z m1 m2", 0L)), "sub-threshold spans survive")
    assert(byDoc(4L) == ((4L, "x y z n1 n2 n3", 0L)))
    assert(byDoc(5L) == ((5L, "u1 u2 u3 u4 u5", 0L)))
    // a doc that IS one big duplicated span deletes to empty, not dropped
    val all = Seq((1L, shared), (2L, shared)).toDF("doc_id", "text")
    val gone = Corpus.stripDupSpans(all, col("doc_id"), col("text"),
        minSpanTokens = 8)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().toSet
    assert(gone == Set((1L, "", 10L), (2L, "", 10L)))
  }

  test("stripDupSpansWith: replayed corpus against frozen state ≡ the batch remove; new docs strip at threshold 1") {
    val docs = Tables.documents(spark, dir)
    val state = java.nio.file.Files.createTempDirectory("sigstate_strip").toString
    assert(Corpus.buildSignalState(docs, col("doc_id"), col("text"), state) == 0L)
    // member replay (threshold 2) ≡ the corpus-rescanning batch operator
    val inc = Corpus.stripDupSpansWith(spark, state, docs, col("doc_id"),
      col("text"), minSpanTokens = 12)
    val full = Corpus.stripDupSpans(docs, col("doc_id"), col("text"),
      minSpanTokens = 12)
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "state-based strip diverged from the corpus-rescanning form on replay")
    // an EXTERNAL doc duplicating a corpus passage strips at threshold 1
    // (one corpus occurrence already means someone else has the text)
    val passage = docs.orderBy("doc_id").select("text")
      .as[String].head().split(" ").take(15).mkString(" ")
    val newcomer = Seq((999999L, s"zq1 zq2 $passage zq3")).toDF("doc_id", "text")
    val stripped = Corpus.stripDupSpansWith(spark, state, newcomer,
        col("doc_id"), col("text"), minSpanTokens = 12, dupThreshold = 1)
      .select("clean_text", "n_removed").as[(String, Long)].head()
    assert(stripped._1 == "zq1 zq2 zq3" && stripped._2 == 15L,
      s"the borrowed passage must be cut, got $stripped")
  }

  test("round-8 operator edges: short/empty docs pass stripDupSpans verbatim; dupSignals on empty input is empty") {
    val docs = Seq(
      (1L, ""),                 // empty text
      (2L, "solo"),             // 1 token — no 3-grams
      (3L, "two tokens"),       // 2 tokens
      (4L, "two tokens")        // exact dup of 3, still < 3 tokens
    ).toDF("doc_id", "text")
    val out = Corpus.stripDupSpans(docs, col("doc_id"), col("text"),
        minSpanTokens = 3)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "", 0L), (2L, "solo", 0L),
      (3L, "two tokens", 0L), (4L, "two tokens", 0L)),
      s"sub-3-gram docs must pass through untouched, got $out")
    val empty = Corpus.dupSignals(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    assert(empty.count() == 0)
  }

  test("dup signals differential: string, xxhash64, and md5-roll shingle families agree") {
    import org.apache.spark.sql.Column
    val docs = Tables.documents(spark, dir)
    val families = Seq[(String, Column => Column)](
      "string" -> NearDup.shingles3Inst,
      "xx"     -> NearDup.shingleHashes3Inst,
      "md5"    -> NearDup.shingleHashes3Md5Inst)
    val ngramOut = families.map { case (n, s) =>
      n -> Corpus.dupNgramStats(docs, col("doc_id"), col("text"), s) }
    val spanOut = families.map { case (n, s) =>
      n -> Corpus.dupSpanStats(docs, col("doc_id"), col("text"), s) }
    for (outs <- Seq(ngramOut, spanOut); (name, df) <- outs.tail) {
      val base = outs.head._2
      assert(df.exceptAll(base).isEmpty && base.exceptAll(df).isEmpty,
        s"$name shingle family must reproduce the string-key results")
    }
  }

  test("dupSignals: the one-pass form equals the two standalone dup operators joined") {
    val docs = Tables.documents(spark, dir)
    val both = Corpus.dupSignals(docs, col("doc_id"), col("text"))
    val expected = Corpus.dupNgramStats(docs, col("doc_id"), col("text"))
      .join(Corpus.dupSpanStats(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_runs"), col("max_span_tokens")),
        Seq("doc_id"), "left")
      .select(both.columns.map(col).toSeq: _*)
    assert(both.exceptAll(expected).isEmpty && expected.exceptAll(both).isEmpty,
      "shared-pass dup signals diverged from the standalone operators")
  }

  test("appendSignalState: build + daily append ≡ one-shot build over the union; scores agree") {
    val docs = Tables.documents(spark, dir)
    val d1 = docs.filter(col("doc_id") % 2 === 0)
    val d2 = docs.filter(col("doc_id") % 2 =!= 0)
    val inc  = java.nio.file.Files.createTempDirectory("sigstate_inc").toString
    val full = java.nio.file.Files.createTempDirectory("sigstate_full").toString
    assert(Corpus.buildSignalState(d1, col("doc_id"), col("text"), inc) == 0L)
    assert(Corpus.appendSignalState(d2, col("doc_id"), col("text"), inc) == 1L)
    assert(Corpus.buildSignalState(docs, col("doc_id"), col("text"), full) == 0L)
    for (t <- Seq("nd", "c1", "c12", "vsz")) {
      val a = graft.sources.Versioned.read(spark, s"$inc/$t")
      val b = graft.sources.Versioned.read(spark, s"$full/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"table $t diverged between incremental and one-shot state")
    }
    val sa = Corpus.signalSheetWith(spark, inc, docs, col("doc_id"),
      col("text"), col("n_chars"))
    val sb = Corpus.signalSheetWith(spark, full, docs, col("doc_id"),
      col("text"), col("n_chars"))
    assert(sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty,
      "sheet scored against merged state diverged from one-shot state")
    // the pre-append version is still pinnable: scoring asOf v0 AFTER
    // the append ≡ scoring against a fresh d1-only state — the
    // invariant a running signalSheetStream (pinned at start) relies on
    val d1Dir = java.nio.file.Files.createTempDirectory("sigstate_d1").toString
    assert(Corpus.buildSignalState(d1, col("doc_id"), col("text"), d1Dir) == 0L)
    val pinned = Corpus.signalSheetWith(spark, inc, docs, col("doc_id"),
      col("text"), col("n_chars"), asOf = Some(0L))
    val freshD1 = Corpus.signalSheetWith(spark, d1Dir, docs, col("doc_id"),
      col("text"), col("n_chars"))
    assert(pinned.exceptAll(freshD1).isEmpty && freshD1.exceptAll(pinned).isEmpty,
      "a concurrent append must not shift scores pinned at the old version")
  }

  test("signal-state safety: wedged dirs fail loudly and repair on build; CAS rejects stale commits") {
    import graft.sources.Versioned
    val docs = Tables.documents(spark, dir)
    val d1 = docs.filter(col("doc_id") < 100)
    val local = java.nio.file.Files.createTempDirectory("sigstate_safety").toString
    // the same again on a dir named by a file:// URI — the repair's wipe
    // must reach it through its Hadoop FileSystem
    val uri = "file://" +
      java.nio.file.Files.createTempDirectory("sigstate_safety_uri").toString
    for (work <- Seq(local, uri)) {
      assert(Corpus.buildSignalState(d1, col("doc_id"), col("text"), work) == 0L)
      // simulate a crash between the four commits: one table advances alone
      Versioned.overwrite(Versioned.read(spark, s"$work/nd"), s"$work/nd"): Unit
      val e1 = intercept[IllegalArgumentException] {
        Corpus.signalStateVersion(spark, work)
      }
      assert(e1.getMessage.contains("lockstep"), "wedge must name the problem")
      val e2 = intercept[IllegalArgumentException] {
        Corpus.appendSignalState(d1.limit(1), col("doc_id"), col("text"), work)
      }
      assert(e2.getMessage.contains("lockstep"), "append on a wedged dir must refuse")
      // build REPAIRS: wipes the wedged dir and starts fresh at v0
      assert(Corpus.buildSignalState(d1, col("doc_id"), col("text"), work) == 0L)
      assert(Corpus.signalStateVersion(spark, work) == 0L)
      // CAS primitive: a commit expecting a version the table has moved
      // past fails instead of retrying onto the next free slot
      val e3 = intercept[IllegalArgumentException] {
        Versioned.overwriteExpecting(
          Versioned.read(spark, s"$work/nd"), s"$work/nd", expected = 5L)
      }
      assert(e3.getMessage.contains("stale snapshot"))
    }
  }

  test("q136 signal sheet: one row per doc; columns agree with the standalone signal operators") {
    val sheet = PipelineQueries.q136SignalSheet(spark, dir)
    val docs = Tables.documents(spark, dir)
    assert(sheet.count() == docs.count(), "one attributes row per document")
    val dup = Corpus.dupNgramStats(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("dup_frac"))
    val sheetDup = sheet.select(col("doc_id"), col("dup_frac"))
      .filter(col("dup_frac").isNotNull)
    assert(sheetDup.exceptAll(dup).isEmpty && dup.exceptAll(sheetDup).isEmpty,
      "dup_frac column must equal the standalone dupNgramStats")
    val span = Corpus.dupSpanStats(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("max_span_tokens").as("dup_span"))
    val sheetSpan = sheet.select(col("doc_id"), col("dup_span"))
      .filter(col("dup_span").isNotNull)
    assert(sheetSpan.exceptAll(span).isEmpty && span.exceptAll(sheetSpan).isEmpty,
      "dup_span column must equal the standalone dupSpanStats")
    val ppl = Corpus.lmScore(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("ppl"))
    val sheetPpl = sheet.select(col("doc_id"), col("ppl"))
      .filter(col("ppl").isNotNull)
    assert(sheetPpl.exceptAll(ppl).isEmpty && ppl.exceptAll(sheetPpl).isEmpty,
      "ppl column must equal the standalone lmScore")
  }

  test("q131 nbClassify: separable vocab classifies correctly; exact score ties break to the smaller label") {
    // Vocabularies are disjoint and their md5 buckets distinct at 512
    // (xx→498, yy→463, qq→262, rr→323, zz→459 — precomputed).
    val train = Seq(
      ("X", "xx yy"), ("X", "xx xx"), ("X", "yy xx"),
      ("Y", "qq rr"), ("Y", "rr rr")).toDF("label", "text")
      .withColumn("doc_id", monotonically_increasing_id())
    val test1 = Seq((10L, "xx xx xx"), (11L, "qq rr qq")).toDF("doc_id", "text")
    val got = Corpus.nbClassify(train, test1, col("doc_id"), col("label"),
        col("text"), buckets = 512)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(got == Map(10L -> "X", 11L -> "Y"))
    // Symmetric model + unseen-token doc → label scores tie EXACTLY
    // (identical decimal sums), deterministic tie-break = label asc.
    val sym = Seq(("X", "xx xx"), ("Y", "qq qq")).toDF("label", "text")
      .withColumn("doc_id", monotonically_increasing_id())
    val tied = Corpus.nbClassify(sym, Seq((20L, "zz")).toDF("doc_id", "text"),
        col("doc_id"), col("label"), col("text"), buckets = 512)
      .select("predicted").as[String].head()
    assert(tied == "X")
    // Real corpus: every language shares one 31-word vocabulary
    // (no lexical signal), so the Bayes-optimal answer IS the prior
    // argmax — assert the operator finds it rather than pretending the
    // corpus is separable.
    val confusion = PipelineQueries.q131NbClassify(spark, dir)
      .as[(String, String, Long)].collect()
    assert(confusion.forall(_._2 == "en"),
      "on a no-signal corpus the prior argmax (en) must win every doc")
  }

  test("nbScore unscaled-long fold is bit-identical to the decimal reference") {
    // r18: the per-token×label fold runs in unscaled-long adds. This
    // replays the OLD semantics independently — per token, round ll to
    // DECIMAL(27,10) (HALF_UP, what cast(double as decimal) does), sum
    // the decimals exactly, add lp in double — and requires the
    // operator's score to match to the LAST BIT, argmax included.
    val buckets = 64
    val train = Seq(
      ("X", "aa bb cc aa dd"), ("X", "bb cc cc"), ("Y", "dd ee dd ff"),
      ("Y", "ee ff gg"), ("Z", "hh ii"), ("Z", "hh hh ii jj aa"))
      .toDF("label", "text").withColumn("doc_id", monotonically_increasing_id())
    val testDocs = Seq(
      (1L, "aa dd ee zz"), (2L, "bb"), (3L, "hh ii jj kk ll mm aa aa"),
      (4L, "zz zz zz"), (5L, "dd ee ff gg hh"))
      .toDF("doc_id", "text")
    val got = Corpus.nbClassify(train, testDocs, col("doc_id"), col("label"),
        col("text"), buckets = buckets)
      .select("doc_id", "predicted", "score")
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val (modelDf, priorDf) = Corpus.nbModelFrames(
      train, col("label"), col("text"), buckets)
    val ll = modelDf.select("label", "b", "ll")
      .as[(String, Long, Double)].collect()
      .map { case (l, b, v) => (l, b) -> v }.toMap
    val lp = priorDf.select("label", "lp").as[(String, Double)].collect().toMap
    def bucket(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(4).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(h, 16) % buckets
    }
    val labels = lp.keys.toSeq.sorted
    testDocs.as[(Long, String)].collect().foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      // strict > over label-ascending order = old window's
      // (score desc, label asc) pick
      var best: (Double, String) = (Double.NegativeInfinity, "")
      labels.foreach { l =>
        val s = toks.map(t => new java.math.BigDecimal(ll((l, bucket(t))))
            .setScale(10, java.math.RoundingMode.HALF_UP))
          .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
        val score = lp(l) + s.doubleValue
        if (score > best._1) best = (score, l)
      }
      assert(got(id) == ((best._2, best._1)),
        s"doc $id: got ${got(id)}, reference $best")
    }
  }
}
