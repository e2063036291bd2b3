package graft

import graft.operators.Index
import org.apache.spark.graft.EngineListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.operators.{Retrieval, Similarity, Tombstones}
import graft.operators.Retrieval.{Ivf, Lexical, Pq}
import graft.sources.Versioned

/** Round-15 serving hardening: facet counts riding the probe slice,
  * adaptive probe widening for selective filtered ANN, and the
  * retrain-cadence index rebuild (centroid/codebook refresh).
  */
class ServeHardeningSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  // ------------------------------------------------------------- facets

  test("bm25Facets ≡ brute-force counts over the (filtered) matching " +
       "corpus; faceted serve pair ≡ (filtered ranking, facets)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = tmp("fct")
    Index.build(Index.Bm25Spec(metaCols = Seq("lang")),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    val terms = Seq("dup", "spark", "hash")

    def bruteCounts(pred: Option[org.apache.spark.sql.Column]) = {
      val m = docs.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isInCollection(terms))
      pred.map(m.filter).getOrElse(m)
        .select("doc_id", "lang").distinct()
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def facetMap(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // unfiltered facet panel
    assert(facetMap(Retrieval.bm25Facets(spark, dir, terms, Seq("lang")))
      == bruteCounts(None))
    // predicate-gated facet panel (eligible = match AND gate)
    val pred = col("lang").isInCollection(Seq("en", "de"))
    assert(facetMap(Retrieval.bm25Facets(spark, dir, terms, Seq("lang"),
      predicate = Some(pred))) == bruteCounts(Some(pred)))

    // one-pass serve pair: ranking half ≡ queryBm25IndexFiltered,
    // facet half ≡ bm25Facets — both off the same staged slice
    val (ranked, facets) = Retrieval.queryBm25IndexFaceted(spark, dir,
      terms, k = 10, facetCols = Seq("lang"), predicate = Some(pred))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(ranked) == rows(Retrieval.lexical(spark, Lexical(dir,
      predicate = Some(pred)), terms, 10)))
    assert(facetMap(facets) == bruteCounts(Some(pred)))

    // un-baked facet / predicate columns refuse loudly
    intercept[IllegalArgumentException] {
      Retrieval.bm25Facets(spark, dir, terms, Seq("license"))
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25Facets(spark, dir, terms, Seq("lang"),
        predicate = Some(col("license") === "mit")).collect()
    }
  }

  test("chunk-grain facets count matching SPANS per facet value") {
    val docs = Seq(
      (1L, "a b c d e f g h", "en"),
      (2L, "a a a a", "de"),
      (3L, "z z z z z", "en")).toDF("doc_id", "text", "lang")
    val dir = tmp("fctc")
    Index.build(Index.Bm25Spec(Index.Chunks(4, 2), metaCols = Seq("lang")),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    val got = Retrieval.bm25Facets(spark, dir, Seq("a"), Seq("lang"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // doc 1 (8 toks, windows at 1/3/5/7): only [a b c d] contains 'a';
    // doc 2: windows [a a a a] and [a a] both do; doc 3: none
    assert(got == Map("en" -> 1L, "de" -> 2L))
  }

  // --------------------------------------------- adaptive filtered probe

  /** 4 tight orthogonal clusters of 12 vectors (dim 8); the gate marks
    * only 3 vectors, all in the cluster the query vector belongs to. */
  private def plantedGateCorpus() = {
    val rows = for (c <- 0 until 4; i <- 0 until 12) yield {
      val rnd = new scala.util.Random(c * 100 + i)
      val v = Array.tabulate(8)(j =>
        (if (j == 2 * c) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.05f)
      (c * 12L + i, v.toSeq, c == 2 && i < 3)
    }
    rows.toDF("id", "vec", "rare")
  }

  test("adaptive filtered probe: a selective gate that underfills at the " +
       "starting width escalates to k with exhaustive-filtered recall; " +
       "an unselective gate returns the fixed-probe plan's exact rows") {
    val corpus = plantedGateCorpus()
    val dir = tmp("adpt")
    Index.build(Index.IvfSpec(nCentroids = 8, lloydIters = 2, metaCols = Seq("rare")),
      Index.Vectors(corpus), dir)
    // query from cluster 0 — its nearest probes are cluster-0 buckets,
    // while every rare=true candidate sits in cluster 2
    val q = corpus.filter(col("id") === 1L).select("id", "vec")
    val fixed = Similarity.probe(spark, Ivf(dir, nProbes = 1), q, 3,
      Similarity.Where(col("rare")))
    assert(fixed.count() < 3, "the planted gate must underfill the fixed probe")
    val adaptive = Similarity.probe(spark, Ivf(dir, nProbes = 1), q, 3,
      Similarity.Widening(col("rare")))
    val exhaustive = Similarity.probe(spark, Ivf(dir, nProbes = 8), q, 3,
      Similarity.Where(col("rare")))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(adaptive) == rows(exhaustive),
      "escalation must recover the exhaustive-filtered answer")
    assert(adaptive.count() == 3)

    // unselective gate: fills at the starting width — rows identical to
    // the fixed-probe filtered plan (q184's contract is untouched)
    val loose = Similarity.probe(spark, Ivf(dir, nProbes = 4),
      corpus.filter(col("id") < 2).select("id", "vec"), 3,
      Similarity.Widening(!col("rare")))
    val fixedLoose = Similarity.probe(spark, Ivf(dir, nProbes = 4),
      corpus.filter(col("id") < 2).select("id", "vec"), 3,
      Similarity.Where(!col("rare")))
    assert(rows(loose) == rows(fixedLoose))
  }

  test("counted filtered probe: the gatecounts sidecar picks each " +
       "query's width in ONE round — minimal prefix for an unselective " +
       "gate, exhaustive-filtered recall for the planted selective gate; " +
       "a stale or missing sidecar degrades to the adaptive path; " +
       "tombstone drift trips the underfill backstop") {
    val corpus = plantedGateCorpus()
    val dir = tmp("cnt")
    Index.build(Index.IvfSpec(nCentroids = 8, lloydIters = 2, metaCols = Seq("rare")),
      Index.Vectors(corpus), dir)
    Similarity.refreshGateCounts(spark, dir, Seq("rare"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val q = corpus.filter(col("id") === 1L).select("id", "vec")

    // planted selective gate (all eligible docs in a far cluster): the
    // one-shot prefix walks out exactly far enough and returns the
    // exhaustive-filtered answer — the adaptive path's recall without
    // its geometric re-scans
    val counted = Similarity.probe(spark, Ivf(dir), q, 3,
      Similarity.Counted("rare", true))
    val exhaustive = Similarity.probe(spark, Ivf(dir, nProbes = 8), q, 3,
      Similarity.Where(col("rare")))
    assert(rows(counted) == rows(exhaustive),
      "counted must reach the exhaustive-filtered answer in one round")

    // unselective gate: each query's top centroid already holds ≥ k
    // eligible rows, so the one-shot width is ONE probe — rows
    // identical to the fixed nProbes=1 filtered plan
    val qs = corpus.filter(col("id") < 2).select("id", "vec")
    val cnt1 = Similarity.probe(spark, Ivf(dir), qs, 3,
      Similarity.Counted("rare", false))
    val fix1 = Similarity.probe(spark, Ivf(dir, nProbes = 1), qs, 3,
      Similarity.Where(!col("rare")))
    assert(rows(cnt1) == rows(fix1),
      "an unselective gate must probe the minimal per-query width")

    // append keeps the sidecar fresh additively: src_v tracks the new
    // assignment version and the batch's counts land
    Index.append(Index.Vectors(Seq((900L, Seq.fill(8)(0.25f),
      true)).toDF("id", "vec", "rare")), dir)
    val gc = Versioned.read(spark, s"$dir/gatecounts")
    assert(gc.select(max(col("src_v"))).head.getLong(0) ==
      Versioned.latestVersion(spark, s"$dir/assignment"))
    assert(gc.filter(col("gate_col") === "rare" &&
        col("gate_val") === "true")
      .agg(sum(col("n"))).head.getLong(0) == 4L,
      "the appended eligible row must fold into the counts")

    // missing sidecar ⇒ correct fallback to the adaptive path
    val dir2 = tmp("cnt2")
    Index.build(Index.IvfSpec(nCentroids = 8, lloydIters = 2, metaCols = Seq("rare")),
      Index.Vectors(corpus), dir2)
    assert(rows(Similarity.probe(spark, Ivf(dir2), q, 3,
      Similarity.Counted("rare", true))) ==
      rows(Similarity.probe(spark, Ivf(dir2), q, 3,
        Similarity.Widening(col("rare")))),
      "no sidecar must degrade to the adaptive path, not fail")

    // tombstones landed AFTER the refresh: counts overcount, the
    // underfill backstop re-routes to the adaptive path and survivors
    // still fill from whatever remains
    Tombstones.add(Seq(24L, 25L).toDF("doc_id"), dir) // two of the rare
    val afterTomb = Similarity.probe(spark, Ivf(dir), q, 3,
      Similarity.Counted("rare", true))
    val exhTomb = Similarity.probe(spark, Ivf(dir, nProbes = 8), q, 3,
      Similarity.Where(col("rare")))
    assert(rows(afterTomb) == rows(exhTomb),
      "tombstone drift must fall back to the widening loop's answer")
    // and the compaction merge re-derives the sidecar tombstone-free
    Index.compact(spark, dir)
    val gc2 = Versioned.read(spark, s"$dir/gatecounts")
    assert(gc2.filter(col("gate_col") === "rare" &&
        col("gate_val") === "true")
      .agg(sum(col("n"))).head.getLong(0) == 2L,
      "compaction must re-derive counts without the dropped docs")
    assert(gc2.select(max(col("src_v"))).head.getLong(0) ==
      Versioned.latestVersion(spark, s"$dir/assignment"))
  }

  test("adaptive filtered IVF-PQ probe escalates the ADC scan the same way") {
    val corpus = plantedGateCorpus()
    val dir = tmp("adptpq")
    Index.build(Index.PqSpec(nCentroids = 8, m = 4, ks = 8, lloydIters = 2,
      dim = 8, metaCols = Seq("rare")),
      Index.Vectors(corpus), dir)
    val q = corpus.filter(col("id") === 1L).select("id", "vec")
    val fixed = Similarity.probe(spark, Pq(dir, None, nProbes = 1, m = 4,
      ks = 8, dim = 8), q, 3, Similarity.Where(col("rare")))
    assert(fixed.count() < 3)
    // the widening sizes itself from the centroid memo the probe already
    // read (a plan literal), never a count job over the centroids table,
    // and the codebook is a plan literal too: the jobs left are the
    // escalation rounds' and the final collect's
    val (adaptive, counts) = EngineListener.measure(spark)(
      Similarity.probe(spark, Pq(dir, None, nProbes = 1, m = 4, ks = 8,
        dim = 8), q, 3, Similarity.Widening(col("rare")))
        .collect().map(_.toSeq).toSeq)
    val exhaustive = Similarity.probe(spark, Pq(dir, None, nProbes = 8, m = 4,
      ks = 8, dim = 8), q, 3, Similarity.Where(col("rare")))
    assert(adaptive == exhaustive.collect().map(_.toSeq).toSeq)
    assert(counts.jobs == 18, s"jobs per adaptive PQ request: ${counts.jobs}")
  }

  // --------------------------------------------- retrain-cadence rebuild

  /** Day-0 corpus clusters on axes 0/2/4/6; the appended batch clusters
    * on axes 1/3/5/7 — a full distribution shift, so FAISS-add scatters
    * it across day-0 buckets and probe recall collapses until the
    * centroids retrain. */
  private def clustered(idBase: Long, axes: Seq[Int], n: Int, seed: Int) = {
    val rows = for ((a, ci) <- axes.zipWithIndex; i <- 0 until n) yield {
      val rnd = new scala.util.Random(seed + ci * 1000 + i)
      val v = Array.tabulate(8)(j =>
        (if (j == a) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (idBase + ci * n + i, v.toSeq)
    }
    rows.toDF("id", "vec")
  }

  test("rebuildIvfIndex: a distribution-shifted FAISS-add degrades probe " +
       "recall; the retrain-cadence rebuild recovers it; a pinned asOf " +
       "read is untouched") {
    val day0 = clustered(0L, Seq(0, 2, 4, 6), 12, seed = 1)
    val shifted = clustered(1000L, Seq(1, 3, 5, 7), 12, seed = 2)
    val union = day0.unionByName(shifted)
    val dir = tmp("rbld")
    val v0 = Index.build(Index.IvfSpec(nCentroids = 8, lloydIters = 2),
      Index.Vectors(day0), dir)
    Index.append(Index.Vectors(shifted), dir)
    val q = shifted.filter(col("id") < 1004L)
    def recallOf(df: DataFrame): Double = {
      val got = df.select("query_id", "cand_id").as[(Long, Long)]
        .collect().toSet
      val want = Similarity.bruteForceTopK(q, union, 5)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      (got & want).size.toDouble / want.size
    }
    val pinnedBefore = Similarity.queryIvfIndex(spark, dir, q, 5,
      nProbes = 2, asOf = Some(v0 + 1)).collect().map(_.toSeq).toSeq
    val drifted = recallOf(Similarity.queryIvfIndex(spark, dir, q, 5, nProbes = 2))
    val v = Index.build(Index.recorded(spark, dir) match {
      case s: Index.IvfSpec => s.copy(lloydIters = 2) }, Index.Own, dir)
    val rebuilt = recallOf(Similarity.queryIvfIndex(spark, dir, q, 5, nProbes = 2))
    assert(rebuilt > drifted,
      s"rebuild must recover recall: drifted $drifted, rebuilt $rebuilt")
    assert(rebuilt >= 0.8, s"rebuilt recall too low: $rebuilt")
    // exhaustive probe of the rebuilt index is still exactly brute force
    assert(recallOf(Similarity.queryIvfIndex(spark, dir, q, 5, nProbes = 8)) == 1.0)
    // the pre-rebuild pinned snapshot reproduces bit-for-bit
    assert(Similarity.queryIvfIndex(spark, dir, q, 5, nProbes = 2,
      asOf = Some(v0 + 1)).collect().map(_.toSeq).toSeq == pinnedBefore)
    assert(v == v0 + 2)
  }

  test("rebuildIvfPqIndex derives every encode parameter from the index " +
       "itself (m, ks, residual, meta, layout) and the rebuilt index " +
       "serves exactly under exhaustive probes + corpus-covering rerank") {
    val day0 = clustered(0L, Seq(0, 2, 4, 6), 12, seed = 3)
      .withColumn("lang", when(col("id") % 2 === 0, "en").otherwise("de"))
    val shifted = clustered(1000L, Seq(1, 3, 5, 7), 12, seed = 4)
      .withColumn("lang", when(col("id") % 2 === 0, "en").otherwise("de"))
    val union = day0.unionByName(shifted)
    val dir = tmp("rbldpq")
    Index.build(Index.PqSpec(nCentroids = 6, m = 4, ks = 8, dim = 8,
      residual = true, metaCols = Seq("lang")),
      Index.Vectors(day0), dir)
    Index.append(Index.Vectors(shifted), dir)
    Index.build(Index.recorded(spark, dir) match {
      case s: Index.PqSpec => s.copy(lloydIters = 2) }, Index.Own, dir)
    // four tables lockstep, meta preserved on vectors AND assignment
    val vs = Seq("vectors", "centroids", "codebook", "assignment")
      .map(t => graft.sources.Versioned.latestVersion(spark, s"$dir/$t"))
    assert(vs.distinct.size == 1, s"rebuild broke lockstep: $vs")
    assert(graft.sources.Versioned.read(spark, s"$dir/vectors")
      .columns.contains("lang"))
    // the strongest contract: the rebuilt index is CONTENT-IDENTICAL to
    // a fresh one-shot build over the union with the same knobs (the
    // md5-derived seed sample and every derived encode param agree)
    val fresh = tmp("rbldpqf")
    Index.build(Index.PqSpec(nCentroids = 6, m = 4, ks = 8, dim = 8,
      residual = true, metaCols = Seq("lang"), lloydIters = 2),
      Index.Vectors(union), fresh)
    Seq("vectors", "centroids", "codebook", "assignment").foreach { t =>
      val a = graft.sources.Versioned.read(spark, s"$dir/$t")
      val b = graft.sources.Versioned.read(spark, s"$fresh/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"rebuilt $t diverged from the fresh union build")
    }
    val q = shifted.filter(col("id") < 1002L).select("id", "vec")
    val got = Similarity.probe(spark, Pq(dir, Some(100), nProbes = 6, m = 4,
      ks = 8, dim = 8, residual = true), q, 5)
      .collect().map(_.toSeq).toSeq
    val want = Similarity.probe(spark, Pq(fresh, Some(100), nProbes = 6, m = 4,
      ks = 8, dim = 8, residual = true), q, 5)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "rebuilt and fresh indexes must serve identically")
    // the filtered probe still resolves its baked gate post-rebuild
    assert(Similarity.probe(spark, Pq(dir, None, nProbes = 6, m = 4, ks = 8,
      dim = 8, residual = true), q, 3,
      Similarity.Where(col("lang") === "en")).count() > 0)
  }

  test("rebuildChunkIvfIndex re-stamps the grid and appends keep working; " +
       "a crashed prior rebuild (skewed versions) is healed by padding") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a a b b c c d d"),
      (3L, "z y x w v u t s")).toDF("doc_id", "text")
    val dir = tmp("rbldc")
    Index.build(Index.IvfSpec(Index.Chunks(4, 2)),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    Index.build(Index.recorded(spark, dir), Index.Own, dir)
    assert(graft.operators.Stamp.read(spark, dir,
      graft.operators.Stamp.chunkGrid("assignment")).nonEmpty)
    Index.append(Index.Text(Seq((9L, "a b fresh doc")).toDF("doc_id", "text"),
      col("doc_id"),
        col("text")), dir)
    // simulate a crashed rebuild: centroids advanced, assignment not
    val c = graft.sources.Versioned.read(spark, s"$dir/centroids")
    graft.sources.Versioned.overwrite(c, s"$dir/centroids")
    val v = Index.build(Index.recorded(spark, dir), Index.Own, dir)
    val vs = Seq("centroids", "assignment")
      .map(t => graft.sources.Versioned.latestVersion(spark, s"$dir/$t"))
    assert(vs.distinct == Seq(v), s"padding must restore lockstep: $vs")
    assert(graft.operators.Stamp.read(spark, dir,
      graft.operators.Stamp.chunkGrid("assignment")).nonEmpty)
  }
}
