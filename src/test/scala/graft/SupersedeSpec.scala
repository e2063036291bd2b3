package graft

import graft.operators.Index
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.operators.{Corpus, Curation, Retrieval, Similarity, Supersede,
  Tombstones}
import graft.sources.Versioned

/** Document UPDATE / supersede — the recrawl path: an N-day composed
  * pipeline that supersedes documents mid-run must end
  * indistinguishable (BM25, ANN, forward, curation funnel, signal
  * state) from a pipeline that only ever saw the successors, and every
  * sub-step must be retry-safe across the stage's crash windows.
  */
class SupersedeSpec extends SparkSpec {

  import spark.implicits._

  private val Day = 24L * 3600 * 1000
  private val sfDir = "/root/testdata/sf0.001"
  private val Off = 1000000L

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val vecs = Tables.embeddings(spark, sfDir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def slice(df: DataFrame, idCol: String, lo: Long, hi: Long) =
    df.filter(col(idCol) >= lo && col(idCol) < hi)

  /** Two day-0 docs that are exact-dedup-SAFE to supersede: unique
    * normalized text in the union corpus (so removing them never moves
    * a norm-keeper choice — the documented incremental-dedup
    * precondition), ids ≥ 10 (clear of the ANN query batch), and
    * day-0 curation SURVIVORS (so the predecessor demonstrably passed
    * the row-local gates its successor must keep passing).
    */
  private lazy val oldIds: Seq[Long] = {
    val union = slice(docs, "doc_id", 0, 200)
    val surv0 = Curation.fullCurate(slice(docs, "doc_id", 0, 100)
      .select("doc_id", "text", "n_chars"))
      .select("doc_id").as[Long].collect().toSet
    val uniq = union
      .groupBy(md5(lower(trim(col("text")))).as("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("doc_id"))
      .filter(col("n") === 1 && col("doc_id") >= 10 && col("doc_id") < 100)
      .select("doc_id").as[Long].collect().filter(surv0)
      .sorted.take(2).toSeq
    assert(uniq.size == 2, s"fixture must yield 2 unique-norm docs: $uniq")
    uniq
  }

  // the stopword-rich suffix keeps the successor's language/quality
  // gate scores at or above its predecessor's
  private def v2Docs(olds: DataFrame): DataFrame = olds
    .withColumn("doc_id", col("doc_id") + Off)
    .withColumn("text", concat(col("text"), lit(" and then it was updated")))
    .withColumn("n_chars", col("n_chars") + lit(24L))

  private def rows(df: DataFrame, cols: String*): Set[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSet

  test("N-day pipeline with a mid-run supersede ends indistinguishable " +
       "from one that only ever ingested the successors: BM25 + ANN + " +
       "forward + funnel + signal state all match; lineage and audit " +
       "record the swap") {
    val workA = tmp("sup_a")
    val workB = tmp("sup_b")
    val olds = docs.filter(col("doc_id").isInCollection(oldIds))
    val v2 = v2Docs(olds)
    val day0A = slice(docs, "doc_id", 0, 100)
    val day0B = day0A.filter(!col("doc_id").isInCollection(oldIds))
    val day1 = slice(docs, "doc_id", 100, 200).unionByName(v2)
    val oldVecSet = oldIds
    val v2Vecs = vecs.filter(col("id").isInCollection(oldVecSet))
      .withColumn("id", col("id") + Off)
    val day0VecsA = slice(vecs, "id", 0, 100)
    val day0VecsB = day0VecsA.filter(!col("id").isInCollection(oldVecSet))
    val day1Vecs = slice(vecs, "id", 100, 200).unionByName(v2Vecs)

    def run(work: String, d0: DataFrame, d0v: DataFrame,
            sup: Long => Option[DataFrame]): Unit =
      (0 until 2).foreach { k =>
        val res = graft.app.DailyMaintenance.tick(spark, work,
          b => if (b == 9 * Day) d0 else day1,
          b => if (b == 9 * Day) d0v else day1Vecs,
          nowMs = (10 + k) * Day + 5,
          intervalMs = Day, retries = 0, retryDelayMs = 1L, sleep = _ => (),
          compactEvery = 99, retrainEvery = 99,
          supersedeFor = sup)
        assert(res.nonEmpty && res.forall(_._2.last.ok),
          s"$work day $k failed: ${res.filter(!_._2.last.ok).map(_._1)}")
      }

    val pairs = oldIds.map(o => (o, o + Off)).toDF("old_id", "new_id")
    run(workA, day0A, day0VecsA,
      b => if (b == 10 * Day) Some(pairs) else None)
    run(workB, day0B, day0VecsB, _ => None)

    // ---- pending-delete phase: A already refuses to SERVE v1 anywhere
    val terms = Seq("dup", "spark", "hash")
    val servedA = Retrieval.queryBm25Index(spark, s"$workA/bm25", terms, 50)
      .select("doc_id").as[Long].collect().toSet
    assert((servedA & oldIds.toSet).isEmpty, "v1 must stop serving at once")

    // ---- merge phase: physical drop + stats correction everywhere
    Retrieval.compactBm25Index(spark, s"$workA/bm25")
    Index.compact(spark, s"$workA/ivf")
    Index.compact(spark, s"$workA/fwd")

    // BM25 ≡ the v2-only pipeline, exactly (stats corrected)
    val a = Retrieval.queryBm25Index(spark, s"$workA/bm25", terms, 20)
    val b = Retrieval.queryBm25Index(spark, s"$workB/bm25", terms, 20)
    assert(rows(a, "doc_id", "n_terms", "score") ==
      rows(b, "doc_id", "n_terms", "score"), "BM25 diverged from v2-only")

    // ANN: exhaustive probes = exact filtered brute force, so the two
    // pipelines' different centroid seeds cannot mask a corpus diff
    val q = vecs.filter(col("id") < 5)
    def ann(w: String) = Similarity.queryIvfIndex(spark, s"$w/ivf", q,
      k = 5, nProbes = 16)
    assert(rows(ann(workA), "query_id", "cand_id") ==
      rows(ann(workB), "query_id", "cand_id"), "ANN diverged from v2-only")

    // forward index content (modulo the layout's doc_part)
    def fwdRows(w: String) =
      rows(Versioned.read(spark, s"$w/fwd/fwd"), "doc_id", "dl")
    assert(fwdRows(workA) == fwdRows(workB), "forward diverged from v2-only")

    // curation funnel: survivors identical
    def surv(w: String) = Curation.survivors(spark, s"$w/state")
      .select("doc_id").as[Long].collect().toSet
    assert(surv(workA) == surv(workB), "survivors diverged from v2-only")
    // suppression-by-own-predecessor is ruled out by the set equality
    // above (B never saw the predecessors); additionally both
    // successors must have been ADMITTED as candidates — the
    // predecessor's norm/shingle state must not shadow its own v2
    val candV2 = Versioned.read(spark, s"$workA/state/candidates")
      .filter(col("doc_id") >= Off).select("doc_id").as[Long]
      .collect().toSet
    assert(candV2 == oldIds.map(_ + Off).toSet,
      s"successors must enter the candidate set: $candV2")

    // signal state row-identical
    Seq("nd", "c1", "c12", "vsz").foreach { t =>
      val x = Versioned.read(spark, s"$workA/signals/$t")
      val y = Versioned.read(spark, s"$workB/signals/$t")
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
        s"signal table $t diverged from v2-only")
    }

    // lineage + audit record the swap
    val lin = Supersede.lineage(spark, workA)
      .select("old_id", "new_id").as[(Long, Long)].collect().toSet
    assert(lin == oldIds.map(o => (o, o + Off)).toSet)
    val aud = Tombstones.audit(spark, s"$workA/bm25")
      .filter(col("reason") === "superseded")
      .select("doc_id").as[Long].collect().toSet
    assert(aud == oldIds.toSet, "audit must name the superseded docs")
  }

  test("supersede sub-steps are retry-safe: a resumed stage after any " +
       "crash window completes without double-applying; a fully-applied " +
       "retry is a no-op; resolveLatest follows chains") {
    val work = tmp("sup_retry")
    val base = slice(docs, "doc_id", 0, 100)
    val olds = docs.filter(col("doc_id").isInCollection(oldIds))
    val v2 = v2Docs(olds)
    Index.build(Index.ForwardSpec(),
      Index.Text(base, col("doc_id"), col("text")), s"$work/fwd")
    Corpus.buildSignalState(base, col("doc_id"), col("text"),
      s"$work/signals")
    Curation.curateBatch(base.select("doc_id", "text", "n_chars"),
      s"$work/state")
    Index.append(Index.Text(v2, col("doc_id"),
        col("text")), s"$work/fwd")
    Corpus.appendSignalState(v2, col("doc_id"), col("text"),
      s"$work/signals")
    Curation.curateBatch(v2.select("doc_id", "text", "n_chars"),
      s"$work/state")

    val pairs = oldIds.map(o => (o, o + Off)).toDF("old_id", "new_id")
    val boundary = 10 * Day

    // crash window: tombstones + the signal delete committed, the
    // curation delete and lineage did not → the resumed stage must
    // NOT re-subtract the signal counts (shared-token double-subtract
    // is silent) and must finish the rest
    Tombstones.addAll(olds.select(col("doc_id")), Seq(s"$work/fwd"),
      reason = "superseded", requestedAt = boundary, boundary = boundary)
    Corpus.deleteFromSignalState(
      olds.select(col("doc_id"), col("text")), col("doc_id"), col("text"),
      s"$work/signals", batchId = Some(s"supersede:$boundary"))
    val sigV = Corpus.signalStateVersion(spark, s"$work/signals")

    val n = Supersede.supersede(spark, pairs, work, boundary,
      Seq(s"$work/fwd"))
    assert(n == oldIds.size.toLong, "resumed stage must commit lineage")
    assert(Corpus.signalStateVersion(spark, s"$work/signals") == sigV,
      "the resumed stage must not re-subtract the signal counts")

    // the signal state equals one that never saw v1 (plus v2)
    val fresh = tmp("sup_retry_fresh")
    Corpus.buildSignalState(
      base.filter(!col("doc_id").isInCollection(oldIds)).unionByName(v2),
      col("doc_id"), col("text"), fresh)
    Seq("nd", "c1", "c12", "vsz").foreach { t =>
      val x = Versioned.read(spark, s"$work/signals/$t")
      val y = Versioned.read(spark, s"$fresh/$t")
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
        s"signal table $t drifted after the resumed supersede")
    }
    // curation state: v1 rows and edges gone
    assert(Versioned.read(spark, s"$work/state/candidates")
      .filter(col("doc_id").isInCollection(oldIds)).isEmpty)

    // fully-applied retry: pure no-op, no version bumps anywhere
    val before = Seq(s"$work/signals/nd", Supersede.lineageTable(work),
      s"$work/state/candidates")
      .map(t => Versioned.latestVersion(spark, t))
    assert(Supersede.supersede(spark, pairs, work, boundary,
      Seq(s"$work/fwd")) == 0L)
    val after = Seq(s"$work/signals/nd", Supersede.lineageTable(work),
      s"$work/state/candidates")
      .map(t => Versioned.latestVersion(spark, t))
    assert(before == after, s"fully-applied retry bumped state: $before -> $after")

    // chained recrawl: v2 itself superseded by v3 — resolveLatest walks
    val v3 = v2.withColumn("doc_id", col("doc_id") + Off)
      .withColumn("text", concat(col("text"), lit(" again")))
    Index.append(Index.Text(v3, col("doc_id"),
        col("text")), s"$work/fwd")
    val pairs2 = oldIds.map(o => (o + Off, o + 2 * Off))
      .toDF("old_id", "new_id")
    Supersede.supersede(spark, pairs2, work, boundary + Day,
      Seq(s"$work/fwd"))
    val resolved = Supersede.resolveLatest(spark, work,
      oldIds.toDF("doc_id"))
      .select("doc_id", "latest_id").as[(Long, Long)].collect().toMap
    oldIds.foreach(o => assert(resolved(o) == o + 2 * Off,
      s"chain $o -> ${resolved(o)} must resolve to ${o + 2 * Off}"))

    // a supersede naming a predecessor the corpus never held refuses
    val alien = Seq((424242L, 424242L + Off)).toDF("old_id", "new_id")
    intercept[Exception] {
      Supersede.supersede(spark, alien, work, boundary + 2 * Day,
        Seq(s"$work/fwd"))
    }
  }
}
