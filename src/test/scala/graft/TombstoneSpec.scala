package graft

import graft.operators.Index
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.operators.{Corpus, Retrieval, Similarity, Tombstones}
import graft.operators.Retrieval.{Lexical, Pq}
import graft.sources.Versioned

/** Document deletion/takedown across the persisted serving indexes:
  * query-time gates (Lucene delete-then-merge semantics — pending
  * deletes stop serving immediately, statistics correct at the merge),
  * the physical drop + stats correction at compaction, crash-shape
  * repairs, the signal-state subtraction, and the bounded sidecar
  * history vacuum.
  */
class TombstoneSpec extends SparkSpec {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark shuffle join spark spark"),
    (2L, "rare spark"),
    (3L, "join join join shuffle shuffle shuffle padding padding padding padding"),
    (4L, "nothing matches here at all"),
    (5L, "spark join rare shuffle"),
    (6L, "rare rare spark join"))
  private val terms = Seq("spark", "rare", "join")
  private val dead = Seq(2L, 5L)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def bm25Rows(df: DataFrame) =
    df.select("doc_id", "n_terms", "score")
      .as[(Long, Long, Double)].collect().toSeq

  test("BM25: gate excludes tombstoned docs NOW; survivor scores stay " +
       "pre-delete (Lucene); compaction drops rows, corrects stats, and " +
       "the merged index ≡ a fresh build without the docs") {
    val dir = tmp("ts_bm25")
    val docs = corpus.toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(),
      Index.Text(docs, col("doc_id"), col("text")), dir)

    val before = bm25Rows(
      Retrieval.queryBm25Index(spark, dir, terms, k = 10))
    Tombstones.add(dead.toDF("doc_id"), dir)

    // pending-delete phase: gated out, survivors score EXACTLY as before
    val gated = bm25Rows(Retrieval.queryBm25Index(spark, dir, terms, k = 10))
    assert(gated.map(_._1).toSet == before.map(_._1).toSet -- dead)
    val beforeMap = before.map(r => r._1 -> r._3).toMap
    gated.foreach { case (id, _, s) =>
      assert(math.abs(s - beforeMap(id)) < 1e-12,
        s"doc $id score moved under a PENDING delete: $s vs ${beforeMap(id)}")
    }

    // merge phase: physical drop + stats correction
    Retrieval.compactBm25Index(spark, dir)
    val freshDir = tmp("ts_bm25_fresh")
    Index.build(Index.Bm25Spec(),
      Index.Text(docs.filter(!col("doc_id").isInCollection(dead)),
        col("doc_id"), col("text")), freshDir)
    val merged = bm25Rows(Retrieval.queryBm25Index(spark, dir, terms, k = 10))
    val fresh  = bm25Rows(Retrieval.queryBm25Index(spark, freshDir, terms, k = 10))
    assert(merged == fresh,
      "tombstoned+compacted index must equal a fresh build without the docs")
    // postings physically gone, stats corrected to the surviving corpus
    val posts = Versioned.read(spark, s"$dir/postings")
    assert(posts.filter(col("doc_id").isInCollection(dead)).isEmpty)
    val st = Versioned.read(spark, s"$dir/stats").head
    val stF = Versioned.read(spark, s"$freshDir/stats").head
    assert(st.getLong(0) == stF.getLong(0) && st.getLong(1) == stF.getLong(1))
    // and QL / phrase / RM3 / filtered consumers agree post-merge
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rowsOf(Retrieval.lexical(spark, Lexical(dir,
      ql = Some(Retrieval.Mu)), terms, 10)) ==
           rowsOf(Retrieval.lexical(spark, Lexical(freshDir,
             ql = Some(Retrieval.Mu)), terms, 10)))
    assert(rowsOf(Retrieval.phraseSearch(spark, dir, Seq("spark", "join"), 10)) ==
           rowsOf(Retrieval.phraseSearch(spark, freshDir, Seq("spark", "join"), 10)))
    assert(rowsOf(Retrieval.rm3Expand(spark, dir, Seq("rare"), 10, kFb = 2, nExp = 2)) ==
           rowsOf(Retrieval.rm3Expand(spark, freshDir, Seq("rare"), 10, kFb = 2, nExp = 2)))
  }

  test("the literal gate keeps anti-join semantics: NULL keys survive, " +
       "duplicate tombstones are harmless, chunk keys decode, and hits is " +
       "the exact complement of gate") {
    val dir = tmp("ts_literal")
    Tombstones.add(dead.toDF("doc_id"), dir, reason = "dmca")
    Tombstones.add(Seq(5L).toDF("doc_id"), dir, reason = "optout") // duplicate id
    Versioned.append(Seq((Option.empty[Long], "unspecified", 0L, 0L))
      .toDF("doc_id", "reason", "requested_at", "boundary"),
      Tombstones.table(dir)) // a NULL tombstone id gates nothing
    val ts = Versioned.read(spark, Tombstones.table(dir))
      .select(col("doc_id").as("t_doc"))
    def sorted(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    def check(rows: DataFrame, key: org.apache.spark.sql.Column): Unit = {
      val gate = Tombstones.gate(spark, dir, rows, key)
      val hits = Tombstones.hits(spark, dir, rows, key)
      assert(sorted(gate) ==
        sorted(rows.join(ts, key === col("t_doc"), "left_anti")))
      assert(sorted(hits) ==
        sorted(rows.join(ts, key === col("t_doc"), "left_semi")))
      assert(sorted(gate.unionAll(hits)) == sorted(rows),
        "gate and hits must partition the rows")
    }
    // doc grain: a NULL key and repeated rows
    val docRows = Seq(Some(1L), Some(2L), Some(5L), Some(5L), None, Some(7L))
      .toDF("doc_id")
    check(docRows, col("doc_id"))
    assert(Tombstones.gate(spark, dir, docRows, col("doc_id"))
      .filter(col("doc_id").isNull).count() == 1)
    // chunk grain: composite key doc·2³² + chunk_start
    val chunkRows = Seq((1L, 0L), (2L, 0L), (2L, 7L), (5L, 3L), (6L, 0L))
      .map { case (d, c) => (d << 32) + c }.toDF("ck")
    check(chunkRows, shiftright(col("ck"), 32))
    assert(Tombstones.gate(spark, dir, chunkRows, shiftright(col("ck"), 32))
      .as[Long].collect().map(_ >> 32).toSet == Set(1L, 6L))
  }

  test("BM25 gates cover the many-query, QL, and phrase paths pre-merge") {
    val dir = tmp("ts_paths")
    val docs = corpus.toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    Tombstones.add(dead.toDF("doc_id"), dir)
    val qdf = Seq((1L, Seq("spark", "rare")), (2L, Seq("join"))).toDF("query_id", "terms")
    val many = Retrieval.queryBm25IndexMany(spark, dir, qdf, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert((many & dead.toSet).isEmpty)
    val ql = Retrieval.lexical(spark, Lexical(dir, ql = Some(Retrieval.Mu)),
      terms, 10)
      .select("doc_id").as[Long].collect().toSet
    assert((ql & dead.toSet).isEmpty)
    val qlMany = Retrieval.lexical(spark, Lexical(dir, ql = Some(Retrieval.Mu)),
      qdf, 10)
      .select("doc_id").as[Long].collect().toSet
    assert((qlMany & dead.toSet).isEmpty)
    val ph = Retrieval.phraseSearch(spark, dir, Seq("rare", "spark"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert((ph & dead.toSet).isEmpty && ph.nonEmpty == false || (ph & dead.toSet).isEmpty)
  }

  test("chunk-grain index: one DOC tombstone removes every span of the " +
       "document; merged chunk index ≡ fresh chunk build without it") {
    val dir = tmp("ts_chunk")
    val docs = corpus.toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(Index.Chunks(3, 2)),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    Tombstones.add(Seq(3L).toDF("doc_id"), dir)
    val gated = Retrieval.lexical(spark, Lexical(dir), Seq("join"), 20)
      .select("doc_id").as[Long].collect().toSet
    assert(!gated.contains(3L))
    Index.compact(spark, dir)
    val freshDir = tmp("ts_chunk_fresh")
    Index.build(Index.Bm25Spec(Index.Chunks(3, 2)),
      Index.Text(docs.filter(col("doc_id") =!= 3L), col("doc_id"),
        col("text")), freshDir)
    def rowsOf(d: String) =
      Retrieval.lexical(spark, Lexical(d), Seq("join", "spark"), 20)
        .collect().map(_.toSeq).toSeq
    assert(rowsOf(dir) == rowsOf(freshDir))
    // appends still work after the merge (grid re-stamped)
    Index.append(Index.Text(Seq((30L, "join spark fresh"))
      .toDF("doc_id", "text"), col("doc_id"),
        col("text")), dir)
  }

  test("crashed tombstone merge (postings dropped, stats not) heals via " +
       "repairBm25Index with the gone-docs subtraction; a recap-style " +
       "non-tombstoned removal is NOT subtracted") {
    val dir = tmp("ts_crash")
    val docs = corpus.toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    Tombstones.add(dead.toDF("doc_id"), dir)
    // simulate the crash: the postings rewrite landed, the stats commit
    // did not (exactly compactBm25Index's first half)
    val dropped = Versioned.read(spark, s"$dir/postings")
      .filter(!col("doc_id").isInCollection(dead))
    Versioned.overwriteLike(dropped, s"$dir/postings")
    intercept[IllegalArgumentException] {
      Retrieval.queryBm25Index(spark, dir, terms, 5)
    }
    Index.repair(spark, dir)
    val st = Versioned.read(spark, s"$dir/stats").head
    // corrected stats: 4 surviving docs, their true token lengths
    val want = corpus.filterNot(c => dead.contains(c._1))
    assert(st.getLong(0) == want.size.toLong)
    assert(st.getLong(1) == want.map(_._2.split(" ").length.toLong).sum)
  }

  test("IVF float index: probes gate pending deletes; exhaustive probe " +
       "after the merge ≡ brute force over the surviving corpus; " +
       "compaction drops assignment rows") {
    val e = (0 until 40).map { i =>
      val rnd = new scala.util.Random(i + 7)
      (i.toLong, Seq.fill(8)(rnd.nextFloat()))
    }.toDF("id", "vec")
    val q = e.filter(col("id") >= 38)
    val deadV = Seq(1L, 5L, 9L)
    val dir = tmp("ts_ivf")
    Index.build(Index.IvfSpec(nCentroids = 8), Index.Vectors(e), dir)
    Tombstones.add(deadV.toDF("doc_id"), dir)
    val gated = Similarity.queryIvfIndex(spark, dir, q, k = 8, nProbes = 8)
    assert((gated.select("cand_id").as[Long].collect().toSet & deadV.toSet).isEmpty)
    val brute = Similarity.bruteForceTopK(q,
        e.filter(!col("id").isInCollection(deadV)), 8)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(gated.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      == brute, "exhaustive gated probe must equal filtered brute force")
    Index.compact(spark, dir)
    assert(Versioned.read(spark, s"$dir/assignment")
      .filter(col("cand_id").isInCollection(deadV)).isEmpty)
    // post-merge probe unchanged vs the gated one
    assert(Similarity.queryIvfIndex(spark, dir, q, k = 8, nProbes = 8)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet == brute)
  }

  test("IVF-PQ four-table index: gates cover ADC + re-rank; compaction " +
       "drops all tables, PRESERVES baked metadata on vectors, and a " +
       "crashed drop (vectors ahead) completes via repairIvfIndex") {
    val e = (0 until 48).map { i =>
      val rnd = new scala.util.Random(i + 11)
      (i.toLong, Seq.fill(16)(rnd.nextFloat()), if (i % 2 == 0) "en" else "de")
    }.toDF("id", "vec", "lang")
    val q = e.filter(col("id") >= 46).select("id", "vec")
    val deadV = Seq(0L, 2L, 4L)
    val dir = tmp("ts_pq")
    Index.build(Index.PqSpec(nCentroids = 6, m = 4, ks = 8, dim = 16,
      metaCols = Seq("lang")),
      Index.Vectors(e), dir)
    Tombstones.add(deadV.toDF("doc_id"), dir)
    val adc = Similarity.probe(spark, Pq(dir, None, nProbes = 6, m = 4, ks = 8,
      dim = 16), q, 10)
    assert((adc.select("cand_id").as[Long].collect().toSet & deadV.toSet).isEmpty)
    val rr = Similarity.probe(spark, Pq(dir, Some(2), nProbes = 6, m = 4,
      ks = 8, dim = 16), q, 10)
    assert((rr.select("cand_id").as[Long].collect().toSet & deadV.toSet).isEmpty)

    // compaction drops every table and keeps the vectors' meta column
    Index.compact(spark, dir)
    val vec = Versioned.read(spark, s"$dir/vectors")
    assert(vec.columns.contains("lang"),
      "compaction must not strip baked metadata from the vectors table")
    assert(vec.filter(col("cand_id").isInCollection(deadV)).isEmpty)
    assert(Versioned.read(spark, s"$dir/assignment")
      .filter(col("cand_id").isInCollection(deadV)).isEmpty)
    // filtered probe still resolves its gate post-compaction, and a
    // meta-carrying append still lands (both broke under the old
    // (cand_id, cv)-only vectors rewrite)
    val f = Similarity.probe(spark, Pq(dir, None, nProbes = 6, m = 4, ks = 8,
      dim = 16), q, 5, Similarity.Where(col("lang") === "en"))
    assert(f.count() > 0)
    Index.append(Index.Vectors(Seq((100L, Seq.fill(16)(0.5f),
      "en")).toDF("id", "vec", "lang")), dir)

    // crashed drop: vectors rewritten minus a NEW tombstone, rest not
    Tombstones.add(Seq(6L).toDF("doc_id"), dir)
    val all = Versioned.read(spark, s"$dir/vectors")
    val cur = all.select(all.columns.filterNot(_ == "vec_part").map(col): _*)
      .filter(col("cand_id") =!= 6L)
    Versioned.overwritePartitioned(
      cur.withColumn("vec_part", pmod(col("cand_id"), lit(4L))),
      s"$dir/vectors", "vec_part")
    Index.repair(spark, dir)
    val vs = Seq("vectors", "centroids", "codebook", "assignment")
      .map(t => Versioned.latestVersion(spark, s"$dir/$t"))
    assert(vs.distinct.size == 1, s"repair left lockstep broken: $vs")
    assert(Versioned.read(spark, s"$dir/assignment")
      .filter(col("cand_id") === 6L).isEmpty,
      "repair must complete the crashed drop on the assignment")
  }

  test("forward index: fetches never mount a tombstoned doc's text; " +
       "compaction drops its row") {
    val dir = tmp("ts_fwd")
    val docs = corpus.toDF("doc_id", "text")
    Index.build(Index.ForwardSpec(),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    Tombstones.add(Seq(1L).toDF("doc_id"), dir)
    val packed = Seq((0L, 1L, 1L, 2L, 1.0), (0L, 2L, 1L, 2L, 0.5))
      .toDF("query_id", "doc_id", "span_start", "span_end", "score")
    val got = Retrieval.contextTextsIndexed(spark, packed, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L))
    Index.compact(spark, dir)
    assert(Versioned.read(spark, s"$dir/fwd").filter(col("doc_id") === 1L).isEmpty)
  }

  test("signal state: delete ≡ a state built without the docs; underflow " +
       "(never-appended doc) fails loudly before committing") {
    val sd = tmp("ts_sig")
    val docs = corpus.toDF("doc_id", "text")
    Corpus.buildSignalState(docs, col("doc_id"), col("text"), sd)
    val deadDocs = docs.filter(col("doc_id").isInCollection(dead))
    Corpus.deleteFromSignalState(deadDocs, col("doc_id"), col("text"), sd)
    val fresh = tmp("ts_sig_fresh")
    Corpus.buildSignalState(docs.filter(!col("doc_id").isInCollection(dead)),
      col("doc_id"), col("text"), fresh)
    Seq("nd", "c1", "c12", "vsz").foreach { t =>
      val a = Versioned.read(spark, s"$sd/$t")
      val b = Versioned.read(spark, s"$fresh/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t diverged from the fresh-build-without state")
    }
    // deleting a doc the state never held must fail in-plan, not corrupt
    val alien = Seq((99L, "completely unseen vocabulary zzz qqq"))
      .toDF("doc_id", "text")
    intercept[Exception] {
      Corpus.deleteFromSignalState(alien, col("doc_id"), col("text"), sd)
    }
    // and the failed delete committed nothing
    assert(Corpus.signalStateVersion(spark, sd) == 1L)
  }

  test("the tombstone gate does not cost the pruned layouts their DPP: " +
       "a partition-layout IVF probe and a forward-index fetch keep " +
       "dynamicpruningexpression with pending deletes in place") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dir = tmp("ts_dpp")
    Index.build(Index.IvfSpec(nCentroids = 8, layout = "partition"),
      Index.Vectors(e), dir)
    Tombstones.add(Seq(3L, 7L).toDF("doc_id"), dir)
    val probe = Similarity.queryIvfIndex(spark, dir,
      e.filter(col("id") < 2), 5, nProbes = 3)
    val plan = probe.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("dynamicpruningexpression"),
      "gated partitioned assignment must still dynamic-partition-prune")
    assert((probe.select("cand_id").as[Long].collect().toSet
      & Set(3L, 7L)).isEmpty)

    val fdir = tmp("ts_dppf")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Index.build(Index.ForwardSpec(),
      Index.Text(docs, col("doc_id"), col("text")), fdir)
    Tombstones.add(Seq(3L).toDF("doc_id"), fdir)
    val packed = Seq((0L, 1L, 1L, 2L, 1.0), (0L, 5L, 1L, 2L, 0.5))
      .toDF("query_id", "doc_id", "span_start", "span_end", "score")
    val fetch = Retrieval.contextTextsIndexed(spark, packed, fdir)
    val plan2 = fetch.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan2.contains("dynamicpruningexpression"),
      "gated forward fetch must still dynamic-partition-prune")
  }

  test("curation-state takedown: candidate rows + pair edges drop; a " +
       "dead cluster representative's next-min member is promoted and " +
       "survivors ≡ fullCurate over the corpus minus the docs; a crashed " +
       "delete heals and completes on the next call") {
    import graft.operators.Curation
    val mk = (id: Long, text: String) => (id, text, text.length.toLong)
    // three near-dup cluster members (ids 10 < 11 < 12) + two singletons;
    // texts long + wordy enough to pass the row-local quality gates
    val dupBase = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the quiet green forest before evening falls"
    val batch1 = Seq(
      mk(10L, dupBase), mk(11L, dupBase + " tonight"),
      mk(20L, "completely different prose about distributed query " +
        "engines and their shuffle behavior at large scale today"))
      .toDF("doc_id", "text", "n_chars")
    val batch2 = Seq(
      mk(12L, dupBase + " again"),
      mk(30L, "another unrelated document describing parquet column " +
        "pruning and predicate pushdown in vectorized readers"))
      .toDF("doc_id", "text", "n_chars")
    val sd = tmp("ts_cur")
    Curation.curateBatch(batch1, sd)
    Curation.curateBatch(batch2, sd)
    val before = Curation.survivors(spark, sd).select("doc_id")
      .as[Long].collect().toSet
    assert(before.contains(10L) && !before.contains(11L),
      s"fixture: 10 must represent the cluster (got $before)")

    // takedown the representative: its rows/edges drop, 11 is promoted
    val del = Curation.deleteFromState(spark, sd, Seq(10L).toDF("doc_id"))
    assert(del.nonEmpty)
    val cands = Versioned.read(spark, s"$sd/candidates")
    assert(cands.filter(col("doc_id") === 10L).isEmpty)
    val prs = Versioned.read(spark, s"$sd/pairs")
    assert(prs.filter(col("doc_a") === 10L || col("doc_b") === 10L).isEmpty)
    val after = Curation.survivors(spark, sd).select("doc_id")
      .as[Long].collect().toSet
    val fresh = Curation.fullCurate(
      batch1.unionByName(batch2).filter(col("doc_id") =!= 10L))
      .select("doc_id").as[Long].collect().toSet
    assert(after == fresh,
      s"post-delete survivors $after must equal fresh-without $fresh")
    assert(after.contains(11L) && !after.contains(12L),
      "the next-min cluster member must be promoted to representative")

    // idempotent no-op
    assert(Curation.deleteFromState(spark, sd, Seq(10L).toDF("doc_id")).isEmpty)

    // crashed delete: candidates overwritten without 30, pairs not
    // touched — heal() closes lockstep with an empty pair append, and
    // the next deleteFromState completes any remaining edge drop
    val c2 = Versioned.read(spark, s"$sd/candidates")
    Versioned.overwrite(c2.filter(col("doc_id") =!= 30L), s"$sd/candidates")
    val v = Curation.survivors(spark, sd) // heal() runs inside
    assert(v.filter(col("doc_id") === 30L).isEmpty)
    assert(Versioned.latestVersion(spark, s"$sd/candidates") ==
      Versioned.latestVersion(spark, s"$sd/pairs"))
    assert(Curation.deleteFromState(spark, sd, Seq(30L).toDF("doc_id")).isEmpty)
  }

  test("vacuumIndexSidecars bounds the epoch history and surviving pins " +
       "still prune") {
    val dir = tmp("ts_vac")
    val docs = corpus.toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(layout = "partition", nPartDirs = 4),
      Index.Text(docs, col("doc_id"), col("text")), dir)
    // several layout epochs: each compaction re-stamps tok_parts@v
    (1 to 3).foreach { i =>
      Retrieval.appendToBm25Index(
        Seq((100L + i, s"spark extra $i")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), dir)
      Retrieval.compactBm25Index(spark, dir)
    }
    val f = new java.io.File(dir)
    def epochFiles = f.listFiles.map(_.getName)
      .count(n => n.startsWith("tok_parts@") || n.startsWith("stop_toks@"))
    assert(epochFiles >= 4, s"expected a grown history, got $epochFiles")
    Versioned.vacuum(spark, s"$dir/postings", retainVersions = 2)
    Versioned.vacuum(spark, s"$dir/stats", retainVersions = 2)
    val removed = graft.operators.Stamp.vacuum(spark, dir, retainVersions = 2)
    assert(removed > 0)
    // ≤ retained-epochs + 1 per sidecar name (the floor-covering epoch)
    val tokEpochs = f.listFiles.map(_.getName).count(_.startsWith("tok_parts@"))
    assert(tokEpochs <= 3, s"tok_parts history not bounded: $tokEpochs")
    // the latest (retained) snapshot still prunes and queries correctly
    val got = Retrieval.queryBm25Index(spark, dir, terms, 10)
    assert(got.count() > 0)
  }

  test("audit trail: takedown rows carry who/why/when; pre-audit tables " +
       "migrate in place; retention vacuum drops only rows no retained " +
       "version can serve and every retained version stays gated") {
    val dir = tmp("ts_audit")
    val docs = corpus.toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(),
      Index.Text(docs, col("doc_id"), col("text")), dir) // v0
    // legacy (pre-audit) tombstone table → first audited add migrates it
    Versioned.overwrite(Seq(99L).toDF("doc_id"), Tombstones.table(dir))
    Tombstones.add(dead.toDF("doc_id"), dir, reason = "dmca",
      requestedAt = 1234L, boundary = 9L)
    val aud = Tombstones.audit(spark, dir)
      .select("doc_id", "reason", "requested_at", "boundary")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(aud == Set((99L, "unspecified", 0L, 0L),
      (2L, "dmca", 1234L, 9L), (5L, "dmca", 1234L, 9L)),
      s"audit rows wrong: $aud")

    // physical drop, then new serving history on top
    Retrieval.compactBm25Index(spark, dir) // v1: dead + 99 absent
    Retrieval.appendToBm25Index(Seq((7L, "spark extra late doc"))
      .toDF("doc_id", "text"), col("doc_id"), col("text"), dir) // v2
    Tombstones.add(Seq(3L).toDF("doc_id"), dir, reason = "optout",
      requestedAt = 5678L, boundary = 11L)

    // retain = 2 → retained postings versions {1, 2}: 2/5/99 appear in
    // neither (dropped at v1), 3 appears in both → only 3 survives
    val v = Tombstones.vacuum(spark, dir, retainVersions = 2)
    assert(v.nonEmpty, "vacuum must rewrite the table")
    val left = Tombstones.of(spark, dir).get
      .select("doc_id").as[Long].collect().toSet
    assert(left == Set(3L),
      s"vacuum kept wrong rows: $left (want only the still-serving 3)")
    // every retained version still gates its pending delete
    Seq(1L, 2L).foreach { asOf =>
      val got = Retrieval.queryBm25Index(spark, dir, terms, 10,
        asOf = Some(asOf)).select("doc_id").as[Long].collect().toSet
      assert(!got.contains(3L), s"v$asOf must stay gated for doc 3")
    }
    // idempotent: nothing more to drop
    assert(Tombstones.vacuum(spark, dir, retainVersions = 2).isEmpty)
  }

  test("signal-state delete with a named deletion batch is exactly-once: " +
       "a retry after the commit skips re-subtracting; a retry after a " +
       "claim-only crash applies; distinct batches both apply") {
    val sd = tmp("ts_sig_retry")
    val docs = corpus.toDF("doc_id", "text")
    Corpus.buildSignalState(docs, col("doc_id"), col("text"), sd)
    val deadDocs = docs.filter(col("doc_id") === 2L)
    val v1 = Corpus.deleteFromSignalState(deadDocs, col("doc_id"),
      col("text"), sd, batchId = Some("takedown:100"))
    assert(v1 == 1L)
    // the ADVICE r15 window: a later sub-step of the same stage failed
    // and the scheduler re-runs the whole stage — the shared-token
    // double-subtract the underflow guard cannot see must NOT happen
    val v2 = Corpus.deleteFromSignalState(deadDocs, col("doc_id"),
      col("text"), sd, batchId = Some("takedown:100"))
    assert(v2 == 1L, "retry of a committed deletion batch must be a no-op")
    val fresh = tmp("ts_sig_retry_fresh")
    Corpus.buildSignalState(docs.filter(col("doc_id") =!= 2L),
      col("doc_id"), col("text"), fresh)
    Seq("nd", "c1", "c12", "vsz").foreach { t =>
      val a = Versioned.read(spark, s"$sd/$t")
      val b = Versioned.read(spark, s"$fresh/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t drifted from fresh-without after the retried delete")
    }
    // claim landed but the subtraction never committed (crash between
    // the claim append and the nd commit): the retry must APPLY
    Versioned.append(Seq(("takedown:200", 2L)).toDF("batch_id", "target_v"),
      s"$sd/dels")
    val v3 = Corpus.deleteFromSignalState(
      docs.filter(col("doc_id") === 5L), col("doc_id"), col("text"), sd,
      batchId = Some("takedown:200"))
    assert(v3 == 2L, "claim-only crash must still apply on retry")
    // a DIFFERENT batch against the same state applies normally
    val v4 = Corpus.deleteFromSignalState(
      docs.filter(col("doc_id") === 4L), col("doc_id"), col("text"), sd,
      batchId = Some("takedown:300"))
    assert(v4 == 3L)
  }

  test("a curation-state delete that crashed between its two overwrites " +
       "cannot poison survivors: the healed state's dangling edges are " +
       "dropped before clustering, so the dead representative's cluster " +
       "keeps its promoted member") {
    import graft.operators.Curation
    val mk = (id: Long, text: String) => (id, text, text.length.toLong)
    val dupBase = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the quiet green forest before evening falls"
    val batch = Seq(
      mk(10L, dupBase), mk(11L, dupBase + " tonight"),
      mk(12L, dupBase + " again"),
      mk(20L, "completely different prose about distributed query " +
        "engines and their shuffle behavior at large scale today"))
      .toDF("doc_id", "text", "n_chars")
    val sd = tmp("ts_cur_crash")
    Curation.curateBatch(batch, sd)
    // simulate deleteFromState(10) dying AFTER its candidates overwrite
    // and BEFORE its pairs overwrite: candidates lose 10, every pair
    // edge touching 10 stays (10 is the edge-graph min = the old
    // representative)
    val cands = Versioned.read(spark, s"$sd/candidates")
    Versioned.overwrite(cands.filter(col("doc_id") =!= 10L),
      s"$sd/candidates")
    val got = Curation.survivors(spark, sd) // heal() runs inside
      .select("doc_id").as[Long].collect().toSet
    val fresh = Curation.fullCurate(batch.filter(col("doc_id") =!= 10L))
      .select("doc_id").as[Long].collect().toSet
    assert(got == fresh,
      s"healed-state survivors $got must equal fresh-without $fresh " +
        "(dangling edges must not elect a deleted doc as representative)")
    assert(got.contains(11L),
      "the surviving cluster must keep its promoted representative")
  }
}
