package graft

import graft.operators.Index
import graft.app.Scheduler
import graft.operators.Retrieval.Lexical

/** The Airflow-DAG semantics (schedule, retries, catchup=false, run
  * history) with injected clock/sleeper — no wall time anywhere.
  */
class SchedulerSpec extends SparkSpec {

  import spark.implicits._

  private val Day = 24L * 3600 * 1000

  test("dueBoundary: fires once per ELAPSED interval (Airflow data-" +
      "interval rule), catchup=false collapses a gap") {
    // nothing covered yet → the latest fully-ELAPSED interval fires:
    // just after the day-10 boundary the run covers day 9 (the day
    // that actually elapsed — a daily job at 00:05 processes yesterday)
    assert(Scheduler.dueBoundary(10 * Day + 5, None, Day) == Some(9 * Day))
    // same interval again → nothing due
    assert(Scheduler.dueBoundary(10 * Day + 9, Some(9 * Day), Day).isEmpty)
    // next boundary crossed → day 10 has now elapsed
    assert(Scheduler.dueBoundary(11 * Day + 1, Some(9 * Day), Day)
      == Some(10 * Day))
    // a WEEK of missed intervals → exactly one run, the latest elapsed
    assert(Scheduler.dueBoundary(17 * Day + 1, Some(9 * Day), Day)
      == Some(16 * Day))
    // before the first interval has elapsed, nothing is due
    assert(Scheduler.dueBoundary(Day - 1, None, Day).isEmpty)
  }

  test("runWithRetries: fails twice then succeeds — 3 attempts, 2 delays; " +
      "exhausted retries record the final failure") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val attempts = Scheduler.runWithRetries(
      () => { calls += 1; if (calls < 3) sys.error(s"boom $calls") },
      retries = 2, retryDelayMs = 120000L, sleep = sleeps += _)
    assert(attempts.map(_.ok) == Seq(false, false, true))
    assert(attempts.map(_.attempt) == Seq(1, 2, 3))
    assert(attempts(0).error.contains("boom 1"))
    assert(sleeps.toSeq == Seq(120000L, 120000L),
      "one retry delay between each attempt, none after success")

    val exhausted = Scheduler.runWithRetries(
      () => sys.error("always"), retries = 2, retryDelayMs = 1L, _ => ())
    assert(exhausted.size == 3 && exhausted.forall(!_.ok))
    // success on first try: one attempt, zero sleeps
    val clean = Scheduler.runWithRetries(() => (), 2, 1L,
      _ => fail("must not sleep"))
    assert(clean == Seq(Scheduler.Attempt(1, ok = true, "")))
  }

  test("tick: history appends per attempt; a failed interval re-fires " +
      "next tick; a succeeded one does not") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sched").toString
    var healthy = false
    var runs = 0
    val job = () => { runs += 1; if (!healthy) sys.error("db down") }
    // a single job is a one-stage chain; its attempts are the stage's
    def tick(nowMs: Long) = Scheduler.tickStagesFor(spark, dir,
      _ => Seq("job" -> job), nowMs = nowMs, intervalMs = Day, retries = 2,
      retryDelayMs = 1L, sleep = _ => ()).flatMap(_._2)

    // day 10: job down → 3 failed attempts recorded, interval NOT
    // covered (the due boundary is day 9, the elapsed interval)
    val t1 = tick(10 * Day + 5)
    assert(t1.size == 3 && t1.forall(!_.ok) && runs == 3)
    // later the same day: the uncovered boundary fires again
    healthy = true
    val t2 = tick(10 * Day + 9)
    assert(t2 == Seq(Scheduler.Attempt(1, ok = true, "")) && runs == 4)
    // again the same day: covered → nothing due, job untouched
    assert(tick(10 * Day + 99).isEmpty)
    assert(runs == 4)
    // next day fires exactly once more
    assert(tick(11 * Day).size == 1)

    // the run history is a queryable attempt-grained trail, plus exactly
    // one coverage marker per succeeded boundary
    import org.apache.spark.sql.functions.col
    val runsDf = graft.sources.Versioned.read(spark, s"$dir/runs")
    val hist = runsDf.filter(col("stage") =!= Scheduler.CoveredStage)
      .select("recorded_at_ms", "boundary_ms", "attempt", "ok")
      .as[(Long, Long, Int, Boolean)].collect()
      .sortBy(r => (r._1, r._3)).map(r => (r._2, r._3, r._4)).toSeq
    assert(hist == Seq(
      (9 * Day, 1, false), (9 * Day, 2, false), (9 * Day, 3, false),
      (9 * Day, 1, true), (10 * Day, 1, true)))
    val markers = runsDf.filter(col("stage") === Scheduler.CoveredStage)
      .select("boundary_ms").as[Long].collect().toSeq.sorted
    assert(markers == Seq(9 * Day, 10 * Day))
  }

  test("tickStages: a mid-chain failure skips downstream stages and a " +
      "re-tick RESUMES — succeeded stages never re-apply") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stages").toString
    val calls = scala.collection.mutable.Map("a" -> 0, "b" -> 0, "c" -> 0)
    var bHealthy = false
    def stages = Seq(
      "a" -> (() => { calls("a") += 1; () }),
      "b" -> (() => { calls("b") += 1; if (!bHealthy) sys.error("b down") }),
      "c" -> (() => { calls("c") += 1; () }))

    // day 10: a ok, b exhausts retries, c SKIPPED, boundary uncovered
    val t1 = Scheduler.tickStagesFor(spark, dir, _ => stages,
      nowMs = 10 * Day + 5, intervalMs = Day, retries = 1,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t1.map(_._1) == Seq("a", "b"))
    assert(t1.toMap.apply("a").map(_.ok) == Seq(true))
    assert(t1.toMap.apply("b").map(_.ok) == Seq(false, false))
    assert(calls == Map("a" -> 1, "b" -> 2, "c" -> 0))

    // later the same day: RESUME — a is skipped (already ok for this
    // boundary: its append-only work must not double), b re-runs and
    // succeeds, c finally runs, the coverage marker lands
    bHealthy = true
    val t2 = Scheduler.tickStagesFor(spark, dir, _ => stages,
      nowMs = 10 * Day + 9, intervalMs = Day, retries = 1,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t2.map(_._1) == Seq("b", "c"))
    assert(calls == Map("a" -> 1, "b" -> 3, "c" -> 1))

    // covered → a third tick the same day does nothing
    assert(Scheduler.tickStagesFor(spark, dir, _ => stages,
      nowMs = 10 * Day + 99, intervalMs = Day, retries = 1,
      retryDelayMs = 1L, sleep = _ => ()).isEmpty)
    assert(calls == Map("a" -> 1, "b" -> 3, "c" -> 1))

    // next day: the full chain runs once
    assert(Scheduler.tickStagesFor(spark, dir, _ => stages,
      nowMs = 11 * Day + 1, intervalMs = Day, retries = 1, retryDelayMs = 1L,
      sleep = _ => ()).map(_._1) == Seq("a", "b", "c"))
    assert(calls == Map("a" -> 2, "b" -> 4, "c" -> 2))

    // the history carries every (stage, attempt) plus one coverage
    // marker per completed boundary
    val hist = graft.sources.Versioned.read(spark, s"$dir/runs")
      .select("boundary_ms", "stage", "attempt", "ok")
      .as[(Long, String, Int, Boolean)].collect().toSeq
    assert(hist.count(r => r._2 == Scheduler.CoveredStage) == 2)
    assert(hist.filter(r => r._1 == 9 * Day && r._2 == "b").map(_._4).sorted
      == Seq(false, false, true))
    // reserved stage name refused
    intercept[IllegalArgumentException] {
      Scheduler.tickStagesFor(spark, dir,
        _ => Seq(Scheduler.CoveredStage -> (() => ())), 12 * Day, Day)
    }
  }

  test("tickStagesFor: a started-but-uncovered boundary is resumed FIRST " +
      "after later intervals elapse, against ITS OWN batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val applied = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var bHealthy = false
    def stagesFor(b: Long): Seq[(String, () => Unit)] = Seq(
      "a" -> (() => { applied += (("a", b)); () }),
      "b" -> (() => { if (!bHealthy) sys.error("down"); applied += (("b", b)); () }))

    // day-9 boundary: a applies day 9's batch, b exhausts its retries
    val t1 = Scheduler.tickStagesFor(spark, dir, stagesFor,
      nowMs = 10 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t1.map(_._1) == Seq("a", "b"))
    assert(applied.toSeq == Seq(("a", 9 * Day)))

    // a FULL day later (the day-10 interval has elapsed too): the tick
    // must NOT abandon day 9 — catchup=false collapses only UNTOUCHED
    // boundaries. It resumes day 9 with day-9's stage list: a (already
    // ok for that boundary) is skipped, b runs with day-9's batch — the
    // half-applied boundary converges instead of leaving the composed
    // artifacts permanently split across days with no error anywhere
    bHealthy = true
    val t2 = Scheduler.tickStagesFor(spark, dir, stagesFor,
      nowMs = 11 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t2.map(_._1) == Seq("b"), s"expected a day-9 resume, got $t2")
    assert(applied.toSeq == Seq(("a", 9 * Day), ("b", 9 * Day)),
      "the resumed stage must process the FAILED day's batch")

    // the next tick then processes day 10 in full (one boundary per
    // tick — a resume defers the next interval, never skips it)
    val t3 = Scheduler.tickStagesFor(spark, dir, stagesFor,
      nowMs = 11 * Day + 9, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t3.map(_._1) == Seq("a", "b"))
    assert(applied.toSeq.drop(2) == Seq(("a", 10 * Day), ("b", 10 * Day)))

    // both boundaries carry coverage markers
    val covered = graft.sources.Versioned.read(spark, s"$dir/runs")
      .filter(org.apache.spark.sql.functions.col("ok") &&
        org.apache.spark.sql.functions.col("stage") === Scheduler.CoveredStage)
      .select("boundary_ms").as[Long].collect().toSet
    assert(covered == Set(9 * Day, 10 * Day))
  }

  test("concurrent ticks: a mid-run double-fire loses the claim and runs " +
      "nothing; a crashed claimant's stale claim is taken over") {
    val dir = java.nio.file.Files.createTempDirectory("graft-claim").toString
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    var inner: Seq[(String, Seq[Scheduler.Attempt])] = null
    def stages: Seq[(String, () => Unit)] = Seq(
      "a" -> (() => { calls += "a"
        // a second process double-fires MID-RUN (cron overlap): it
        // reads the same runs table, picks the same boundary, and must
        // lose on the fresh claim — additive stages never double-apply
        inner = Scheduler.tickStagesFor(spark, dir, _ => stages,
          nowMs = 10 * Day + 6, intervalMs = Day, retries = 0,
          retryDelayMs = 1L, sleep = _ => ())
      }),
      "b" -> (() => { calls += "b"; () }))
    val t1 = Scheduler.tickStagesFor(spark, dir, _ => stages,
      nowMs = 10 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t1.map(_._1) == Seq("a", "b"))
    assert(inner != null && inner.isEmpty,
      "the interleaved ticker must lose the claim and run nothing")
    assert(calls.toSeq == Seq("a", "b"), "state ≡ a single tick")

    // a FRESH unreleased claim from another (presumed live) ticker
    // blocks the boundary without racing
    import graft.sources.Versioned
    val claims = s"$dir/claims"
    val now2 = 11 * Day + 5 // due boundary: day 10
    Versioned.overwriteExpecting(
      Seq((10 * Day, now2 - 1000L, false))
        .toDF("boundary_ms", "claimed_at_ms", "released"),
      claims, Versioned.latestVersion(spark, claims) + 1): Unit
    assert(Scheduler.tickStagesFor(spark, dir, _ => stages,
      nowMs = now2, intervalMs = Day, retries = 0, retryDelayMs = 1L,
      sleep = _ => ()).isEmpty)
    assert(calls.toSeq == Seq("a", "b"))

    // the claimant CRASHED (never released): past the TTL (one
    // interval) the next ticker takes the claim over and the boundary
    // finally runs
    Versioned.overwriteExpecting(
      Seq((10 * Day, now2 - Day - 1L, false))
        .toDF("boundary_ms", "claimed_at_ms", "released"),
      claims, Versioned.latestVersion(spark, claims) + 1): Unit
    val t3 = Scheduler.tickStagesFor(spark, dir, _ => stages,
      nowMs = now2 + 10, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t3.map(_._1) == Seq("a", "b"))
    assert(calls.toSeq == Seq("a", "b", "a", "b"))
  }

  test("claims are single-flight and fenced: a fresh claim on a DIFFERENT " +
      "boundary blocks; a mid-run takeover stops the slow claimant at the " +
      "next stage boundary without recording the in-flight stage") {
    import graft.sources.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft-fence").toString
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val claims = s"$dir/claims"

    // 1. single-flight: with claimTtlMs > intervalMs, a live claimant on
    // an OLDER boundary must still exclude a second ticker — the stage
    // chains of two boundaries share composed artifacts
    Versioned.overwrite(
      Seq((5 * Day, 10 * Day, "other-owner", false))
        .toDF("boundary_ms", "claimed_at_ms", "owner", "released"),
      claims): Unit
    val stagesPlain: Seq[(String, () => Unit)] = Seq(
      "a" -> (() => { calls += "a"; () }),
      "b" -> (() => { calls += "b"; () }))
    assert(Scheduler.tickStagesFor(spark, dir, _ => stagesPlain,
      nowMs = 10 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => (), claimTtlMs = 3 * Day).isEmpty,
      "a fresh foreign claim must block regardless of its boundary")
    assert(calls.isEmpty)

    // 2. fencing: the claim is taken over WHILE stage a runs (the
    // slow-claimant-past-TTL shape) — the slow ticker must not record
    // stage a, must not run stage b, and must not write the coverage
    // marker; the boundary stays fully re-runnable
    Versioned.overwriteExpecting(
      Seq((5 * Day, 10 * Day, "other-owner", true))
        .toDF("boundary_ms", "claimed_at_ms", "owner", "released"),
      claims, Versioned.latestVersion(spark, claims) + 1): Unit
    val fencedStages: Seq[(String, () => Unit)] = Seq(
      "a" -> (() => { calls += "a"
        Versioned.overwriteExpecting(
          Seq((10 * Day, 11 * Day, "taker", false))
            .toDF("boundary_ms", "claimed_at_ms", "owner", "released"),
          claims, Versioned.latestVersion(spark, claims) + 1): Unit
      }),
      "b" -> (() => { calls += "b"; () }))
    val t = Scheduler.tickStagesFor(spark, dir, _ => fencedStages,
      nowMs = 10 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(t.map(_._1) == Seq("a"), "the in-flight stage's attempts are " +
      "returned to the caller, but nothing after it runs")
    assert(calls.toSeq == Seq("a"), "stage b must not run after the fence")
    assert(!Versioned.exists(spark, s"$dir/runs") ||
      Versioned.read(spark, s"$dir/runs").count() == 0L,
      "a fenced claimant records nothing — the taker owns the history")
    // the taker's claim survives the loser's best-effort release
    val cur = Versioned.read(spark, claims)
      .select("owner", "released").as[(String, Boolean)].collect().head
    assert(cur == ("taker", false),
      "the fenced loser must not release the taker's claim")
  }

  test("DailyMaintenance retrain cadence: models re-version every " +
      "retrainEvery boundaries; a pinned modelAsOf encode reproduces " +
      "bit-for-bit across the retrain") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val work = java.nio.file.Files.createTempDirectory("graft-retrain").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def dayDocs(k: Int) =
      docs.filter(col("doc_id") >= k * 100 && col("doc_id") < (k + 1) * 100)
    def dayVecs(k: Int) =
      vecs.filter(col("id") >= k * 100 && col("id") < (k + 1) * 100)
    def dayOf(b: Long): Int = (b / Day - 9).toInt

    // boundaries 9/10/11 · Day; retrainEvery = 2 → day index 10 is the
    // one retrain (9 and 11 are off-cadence; day 9 builds because the
    // model is absent)
    (0 until 3).foreach { k =>
      val res = graft.app.DailyMaintenance.tick(spark, work,
        b => dayDocs(dayOf(b)), b => dayVecs(dayOf(b)),
        nowMs = (10 + k) * Day + 5,
        intervalMs = Day, retries = 0, retryDelayMs = 1L, sleep = _ => (),
        compactEvery = 4, retrainEvery = 2)
      assert(res.nonEmpty && res.forall(_._2.last.ok),
        s"day $k had a failed stage: ${res.filter(!_._2.last.ok).map(_._1)}")
    }
    assert(Versioned.latestVersion(spark, s"$work/bpe_model/merges") == 1,
      "absent-build on day 9 + ONE cadence retrain on day 10")
    assert(Versioned.latestVersion(spark, s"$work/bpe_model/vocab") == 1)
    assert(Versioned.latestVersion(spark, s"$work/nb_model/model") == 1)

    // the pinned v0 tokenizer still encodes EXACTLY as it did before
    // the retrain: a scratch model trained on the same day-9 batch is
    // bit-identical under asOf = 0
    val scratch = java.nio.file.Files.createTempDirectory("graft-bpe0").toString
    graft.operators.Bpe.buildBpeModel(dayDocs(0), col("text"), k = 40, scratch): Unit
    def ids(dir: String, asOf: Option[Long]) =
      graft.operators.Bpe.encodeIdsWithModel(spark, dir, dayDocs(0),
          col("doc_id"), col("text"), asOf = asOf)
        .select("doc_id", "word_pos", "sym_pos", "tok_id")
        .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    assert(ids(s"$work/bpe_model", Some(0L)) == ids(scratch, None),
      "a retrain must not disturb a pinned historical tokenizer")
    // and the NB model's pinned v0 still scores (lockstep pair intact)
    assert(graft.operators.Corpus.scoreWithNbModel(spark, s"$work/nb_model",
      dayDocs(0), col("doc_id"), col("text"), asOf = Some(0L)).count() > 0)
  }

  test("index rebuild skips a boundary whose build is itself fresh: a " +
      "first-ever tick landing ON the retrain cadence builds the indexes " +
      "but does not immediately rebuild them") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val work = java.nio.file.Files.createTempDirectory("graft-rb0").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 100)
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .filter(col("id") < 100)
    // first tick at 11·Day+5 → boundary 10·Day, day index 10: ON the
    // retrainEvery=2 cadence. Under the old `boundary > 0` gate this
    // rebuilt every index the same tick that built it.
    val res = graft.app.DailyMaintenance.tick(spark, work,
      _ => docs, _ => vecs, nowMs = 11 * Day + 5,
      intervalMs = Day, retries = 0, retryDelayMs = 1L, sleep = _ => (),
      compactEvery = 4, retrainEvery = 2)
    assert(res.nonEmpty && res.forall(_._2.last.ok),
      s"failed stages: ${res.filter(!_._2.last.ok).map(_._1)}")
    Seq("ivf", "chunk_ivf", "chunk_pq").foreach { d =>
      assert(Versioned.latestVersion(spark, s"$work/$d/assignment") == 0L,
        s"$d must stay at its fresh build (v0) — no same-tick rebuild")
    }
  }

  test("chunk_append self-heals a crashed FIRST build (no grid stamp) by " +
      "rebuilding from the boundary's batch; a multi-day untrusted grid " +
      "fails loudly instead of silently dropping prior days") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val work = java.nio.file.Files.createTempDirectory("graft-heal").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def dayDocs(k: Int) =
      docs.filter(col("doc_id") >= k * 100 && col("doc_id") < (k + 1) * 100)
    def dayOf(b: Long): Int = (b / Day - 9).toInt

    // fake the crash shape: a first build's two index commits landed,
    // the grid stamp never did (single overwrite version, no sidecar)
    Index.build(Index.Bm25Spec(),
      Index.Text(dayDocs(0), col("doc_id"), col("text")), s"$work/chunks"): Unit
    assert(!graft.operators.Stamp.read(spark, s"$work/chunks",
      graft.operators.Stamp.chunkGrid("postings")).nonEmpty)

    // the day-9 tick reroutes chunk_append to a rebuild (lossless: the
    // table holds exactly this boundary's batch) and completes
    val r0 = graft.app.DailyMaintenance.tick(spark, work,
      b => dayDocs(dayOf(b)), b => dayVecs_(vecs, dayOf(b)),
      nowMs = 10 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(r0.forall(_._2.last.ok), s"heal tick failed: $r0")
    assert(graft.operators.Stamp.read(spark, s"$work/chunks",
      graft.operators.Stamp.chunkGrid("postings")).nonEmpty)

    // day 10 appends normally; then the grid goes untrusted on a
    // MULTI-day index → the stage must refuse, not rebuild from one day
    val r1 = graft.app.DailyMaintenance.tick(spark, work,
      b => dayDocs(dayOf(b)), b => dayVecs_(vecs, dayOf(b)),
      nowMs = 11 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(r1.forall(_._2.last.ok))
    assert(new java.io.File(s"$work/chunks/chunk_grid").delete())
    val r2 = graft.app.DailyMaintenance.tick(spark, work,
      b => dayDocs(dayOf(b)), b => dayVecs_(vecs, dayOf(b)),
      nowMs = 12 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    val chunkAttempts = r2.toMap.apply("chunk_append")
    assert(!chunkAttempts.last.ok &&
      chunkAttempts.last.error.contains("manually"),
      s"a multi-day untrusted grid must fail loudly, got: $chunkAttempts")
  }

  private def dayVecs_(vecs: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.functions.col
    vecs.filter(col("id") >= k * 100 && col("id") < (k + 1) * 100)
  }

  test("chunk_append/bm25_append heal a build that died BEFORE its stats " +
      "commit (repair, then rebuild) and an append that died after its " +
      "postings commit (repair completes it, no double-apply)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    import graft.operators.Retrieval
    val work = java.nio.file.Files.createTempDirectory("graft-heal2").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def dayDocs(k: Int) =
      docs.filter(col("doc_id") >= k * 100 && col("doc_id") < (k + 1) * 100)
    def dayOf(b: Long): Int = (b / Day - 9).toInt

    // crash shape A (the round-11 ADVICE wedge): a first chunk build
    // died between its postings and stats commits — postings exist,
    // stats table ABSENT, no grid stamp. The old heal matched on
    // "history all v0", rebuilt, and wedged: the rebuild overwrote
    // postings to v1 but CREATED stats at v0 and failed its lockstep
    // require; the next tick saw postings v1 and hit the manual error.
    val scratchA = java.nio.file.Files.createTempDirectory("graft-sa").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
      Index.Text(dayDocs(0), col("doc_id"), col("text")), scratchA): Unit
    Versioned.overwriteBucketed(
      Versioned.read(spark, s"$scratchA/postings"),
      s"$work/chunks/postings", "tok", 8): Unit
    // same shape on the DOC index (no grid involved there)
    Index.build(Index.Bm25Spec(),
      Index.Text(dayDocs(0), col("doc_id"), col("text")), scratchA + "_doc"): Unit
    Versioned.overwriteBucketed(
      Versioned.read(spark, scratchA + "_doc/postings"),
      s"$work/bm25/postings", "tok", 8): Unit

    val r0 = graft.app.DailyMaintenance.tick(spark, work,
      b => dayDocs(dayOf(b)), b => dayVecs_(vecs, dayOf(b)),
      nowMs = 10 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(r0.forall(_._2.last.ok), s"heal tick failed: $r0")
    assert(graft.operators.Stamp.read(spark, s"$work/chunks",
      graft.operators.Stamp.chunkGrid("postings")).nonEmpty)
    // and the next tick must NOT wedge (the old bug fired here)
    val r1 = graft.app.DailyMaintenance.tick(spark, work,
      b => dayDocs(dayOf(b)), b => dayVecs_(vecs, dayOf(b)),
      nowMs = 11 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(r1.forall(_._2.last.ok), s"post-heal tick failed: $r1")

    // the healed indexes answer exactly like an uncrashed day9+day10
    // sequence
    val clean = java.nio.file.Files.createTempDirectory("graft-cl").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
      Index.Text(dayDocs(0), col("doc_id"), col("text")), s"$clean/chunks"): Unit
    Index.append(Index.Text(dayDocs(1), col("doc_id"),
        col("text")), s"$clean/chunks"): Unit
    def probe(dir: String) = Retrieval.lexical(spark, Lexical(dir),
      Seq("dup", "spark", "hash"), 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(probe(s"$work/chunks") == probe(s"$clean/chunks"))

    // crash shape B: day-11's chunk append died after its postings
    // commit (the orphan slice is on disk, stats behind). The stage must
    // repair — COMPLETING the append — and must NOT re-append the batch.
    val scratchB = java.nio.file.Files.createTempDirectory("graft-sb").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
      Index.Text(dayDocs(2), col("doc_id"), col("text")), scratchB): Unit
    Versioned.append(Versioned.read(spark, s"$scratchB/postings"),
      s"$work/chunks/postings"): Unit
    val r2 = graft.app.DailyMaintenance.tick(spark, work,
      b => dayDocs(dayOf(b)), b => dayVecs_(vecs, dayOf(b)),
      nowMs = 12 * Day + 5, intervalMs = Day, retries = 0,
      retryDelayMs = 1L, sleep = _ => ())
    assert(r2.forall(_._2.last.ok), s"orphan-append tick failed: $r2")
    Index.append(Index.Text(dayDocs(2), col("doc_id"),
        col("text")), s"$clean/chunks"): Unit
    assert(probe(s"$work/chunks") == probe(s"$clean/chunks"),
      "repair must complete the crashed append exactly once")
  }

  test("DailyMaintenance: N simulated days end-to-end — indexes stay " +
      "lockstep, demoted layouts re-established, old versions vacuumed, " +
      "every stage in the runs table") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-daily").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def dayDocs(k: Int) =
      docs.filter(col("doc_id") >= k * 100 && col("doc_id") < (k + 1) * 100)
    def dayVecs(k: Int) =
      vecs.filter(col("id") >= k * 100 && col("id") < (k + 1) * 100)

    // boundary-addressed batches: boundary b covers data interval
    // [b, b+Day), day k's boundary is (9+k)*Day
    def dayOf(b: Long): Int = (b / Day - 9).toInt
    (0 until 3).foreach { k =>
      val res = graft.app.DailyMaintenance.tick(spark, work,
        b => dayDocs(dayOf(b)), b => dayVecs(dayOf(b)),
        nowMs = (10 + k) * Day + 5,
        intervalMs = Day, retries = 0, retryDelayMs = 1L, sleep = _ => (),
        compactEvery = 2, retainVersions = 1)
      assert(res.nonEmpty && res.forall(_._2.last.ok),
        s"day $k had a failed stage: ${res.filter(!_._2.last.ok).map(_._1)}")
    }

    // every stage has an ok row for every boundary; 3 coverage markers
    val hist = graft.sources.Versioned.read(spark, s"$work/runs")
      .filter(col("ok")).select("boundary_ms", "stage")
      .as[(Long, String)].collect().toSet
    val stageNames = Seq("curate", "signal_state", "bm25_append",
      "chunk_append", "ivf_append", "chunk_ivf_append", "chunk_pq_append",
      "fwd_append", "bpe_retrain", "nb_retrain", "bm25_compact",
      "chunk_compact", "ivf_compact", "chunk_ivf_compact",
      "chunk_pq_compact", "fwd_compact", "vacuum",
      Scheduler.CoveredStage)
    for (k <- 0 until 3; s <- stageNames)
      assert(hist.contains(((9 + k) * Day, s)), s"missing ok row: day $k, $s")

    // all multi-table artifacts in version lockstep
    import graft.sources.Versioned
    assert(Versioned.latestVersion(spark, s"$work/bm25/postings") ==
      Versioned.latestVersion(spark, s"$work/bm25/stats"))
    assert(Versioned.latestVersion(spark, s"$work/chunks/postings") ==
      Versioned.latestVersion(spark, s"$work/chunks/stats"))
    assert(Versioned.latestVersion(spark, s"$work/ivf/centroids") ==
      Versioned.latestVersion(spark, s"$work/ivf/assignment"))
    assert(Versioned.latestVersion(spark, s"$work/chunk_ivf/centroids") ==
      Versioned.latestVersion(spark, s"$work/chunk_ivf/assignment"))
    assert(Seq("vectors", "centroids", "codebook", "assignment")
      .map(t => Versioned.latestVersion(spark, s"$work/chunk_pq/$t"))
      .distinct.size == 1,
      "all FOUR chunk PQ tables must stay in lockstep")
    // the maintained chunk pair serves the hybrid: under exhaustive
    // probes the ANN arm is exact regardless of where the day-0
    // centroids froze, so the maintained pair's fused answers equal a
    // FRESH pair built over the 3-day union on the same grid
    locally {
      val fresh = java.nio.file.Files.createTempDirectory("graft-daily-h").toString
      val union = docs.filter(col("doc_id") < 300)
      Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
        Index.Text(union, col("doc_id"), col("text")), s"$fresh/chunks"): Unit
      Index.build(Index.IvfSpec(Index.Chunks(32, 16)),
        Index.Text(union, col("doc_id"), col("text")), s"$fresh/chunk_ivf"): Unit
      val qraw = Seq((900000001L, Seq("dup", "spark")))
        .toDF("query_id", "terms")
      val queries = qraw.join(
        graft.operators.Corpus.hashEmbed(qraw, col("query_id"),
          concat_ws(" ", col("terms"))).withColumnRenamed("id", "query_id"),
        Seq("query_id"))
      def fused(chunks: String, civf: String) =
        graft.operators.Retrieval.hybrid(spark, graft.operators.Retrieval
          .Hybrid(chunks, graft.operators.Retrieval.Ivf(civf, nProbes = 16)),
          queries, k = 10)
          .collect().map(_.toSeq).toSeq
      assert(fused(s"$work/chunks", s"$work/chunk_ivf") ==
        fused(s"$fresh/chunks", s"$fresh/chunk_ivf"),
        "maintained chunk pair must serve the same fused spans as a fresh build")
    }
    assert(graft.operators.Corpus.signalStateVersion(spark, s"$work/signals") == 2,
      "signal state: day-0 build + two appends")

    // compactEvery=2: day 1's single append leaves the debt below the
    // threshold (no full-snapshot rewrite per tick — the OPTIMIZE
    // cadence is periodic, not every day); day 2's second append
    // reaches it and compaction re-establishes the declared bucketed
    // layout (probe prunes buckets at the scan)
    assert(Versioned.history(spark, s"$work/bm25/postings")
      .map(_._2) == Seq("overwrite", "append", "append", "overwrite"),
      "build, two appends, ONE compaction at the debt threshold")
    val probe = graft.operators.Retrieval.queryBm25Index(spark,
      s"$work/bm25", Seq("dup"), k = 5)
    assert(probe.queryExecution.executedPlan.toString
      .contains("SelectedBucketsCount"),
      "compacted postings must read through the bucketed layout")

    // maintained index ≡ a fresh one-shot build over the 3-day union
    // (append ≡ build, surviving the whole compact/vacuum cadence)
    val fresh = java.nio.file.Files.createTempDirectory("graft-daily-f").toString
    val union = docs.filter(col("doc_id") < 300)
    Index.build(Index.Bm25Spec(),
      Index.Text(union, col("doc_id"), col("text")), fresh)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSeq
    assert(rows(probe) == rows(graft.operators.Retrieval.queryBm25Index(
      spark, fresh, Seq("dup"), k = 5)))
    // chunk index: the maintained index (grid from the sidecar on every
    // append) ranks exactly as a fresh chunk build over the union
    val freshC = java.nio.file.Files.createTempDirectory("graft-daily-c").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
      Index.Text(union, col("doc_id"), col("text")), freshC)
    assert(rows(graft.operators.Retrieval.lexical(spark,
      Lexical(s"$work/chunks"), Seq("dup"), 5)) ==
      rows(graft.operators.Retrieval.lexical(spark, Lexical(freshC), Seq("dup"),
        5)))
    // the COMPRESSED chunk pair: the maintained PQ index encodes day-1/2
    // appends on the FROZEN day-0 codebook while a fresh union build
    // trains on the whole union — under exhaustive probes and a
    // corpus-covering shortlist the exact re-rank erases both
    // differences, so the fused answers must be identical
    locally {
      val freshPq = java.nio.file.Files
        .createTempDirectory("graft-daily-pq").toString
      Index.build(Index.PqSpec(Index.Chunks(32, 16)),
        Index.Text(union, col("doc_id"), col("text")), freshPq): Unit
      val qraw = Seq((900000001L, Seq("dup", "spark")))
        .toDF("query_id", "terms")
      val pqQueries = qraw.join(
        graft.operators.Corpus.hashEmbed(qraw, col("query_id"),
          concat_ws(" ", col("terms"))).withColumnRenamed("id", "query_id"),
        Seq("query_id"))
      def fusedPq(chunks: String, pq: String) =
        graft.operators.Retrieval.hybrid(spark, graft.operators.Retrieval
          .Hybrid(chunks, graft.operators.Retrieval.Pq(pq, alpha = Some(200),
            nProbes = 16)), pqQueries, k = 10)
          .collect().map(_.toSeq).toSeq
      assert(fusedPq(s"$work/chunks", s"$work/chunk_pq") ==
        fusedPq(freshC, freshPq),
        "maintained PQ pair must serve the same fused spans as a fresh build")
    }
    // the maintained FORWARD index serves span text exactly like a fresh
    // build over the 3-day union (appends kept the shard layout; the
    // compaction at the debt threshold re-stamped the sidecar)
    locally {
      val freshF = java.nio.file.Files
        .createTempDirectory("graft-daily-fwd").toString
      Index.build(Index.ForwardSpec(),
        Index.Text(union, col("doc_id"), col("text")), freshF): Unit
      val spans = Seq((9L, 5L, 1L, 4L, 0.9), (9L, 205L, 2L, 6L, 0.8))
        .toDF("query_id", "doc_id", "span_start", "span_end", "score")
      def txt(dir: String) = graft.operators.Retrieval
        .contextTextsIndexed(spark, spans, dir)
        .collect().map(_.toSeq).toSeq
      assert(txt(s"$work/fwd") == txt(freshF),
        "maintained forward index must slice exactly like a fresh build")
    }
    // ANN: an exhaustive probe of the maintained index ranks exactly as
    // brute force over the 3-day vector union
    val queries = vecs.filter(col("id") < 2)
    val exhaustive = graft.operators.Similarity.queryIvfIndex(spark,
      s"$work/ivf", queries, k = 5, nProbes = 16)
      .select("query_id", "cand_id", "sim")
    assert(rows(exhaustive) == rows(graft.operators.Similarity
      .bruteForceTopK(queries, vecs.filter(col("id") < 300), k = 5)
      .select("query_id", "cand_id", "sim")))

    // vacuum (retain 1) ran on day 2 after compaction: the pre-compact
    // postings files (day-0 build + both appends) are referenced by no
    // retained version and are gone from disk (old time travel stops
    // working — the documented trade)
    val dataDirs = new java.io.File(s"$work/bm25/postings/data").listFiles()
    assert(dataDirs.exists(_.getName.startsWith("v3-")),
      "the compacted snapshot's staged dir must survive")
    assert(dataDirs.filter(d =>
        Seq("v0-", "v1-", "v2-").exists(d.getName.startsWith))
      .forall(_.listFiles().count(_.getName.startsWith("part-")) == 0),
      "pre-compaction postings data files must be vacuumed")
    // the latest version still reads fine after the vacuum
    assert(Versioned.read(spark, s"$work/bm25/postings").count() > 0)
  }

  test("DailyMaintenance with a MID-RUN TAKEDOWN: day 2 tombstones two " +
      "day-0 docs; the same day's compactions merge the drop, and every " +
      "maintained artifact ends row-identical to a cadence run that " +
      "never ingested them — minus the documented stats epsilon (none " +
      "here: the docs carry postings)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val work = java.nio.file.Files.createTempDirectory("graft-takedown").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dead = Seq(5L, 17L)
    def dayDocs(k: Int) =
      docs.filter(col("doc_id") >= k * 100 && col("doc_id") < (k + 1) * 100)
    def dayVecs(k: Int) =
      vecs.filter(col("id") >= k * 100 && col("id") < (k + 1) * 100)
    def dayOf(b: Long): Int = (b / Day - 9).toInt

    (0 until 3).foreach { k =>
      val res = graft.app.DailyMaintenance.tick(spark, work,
        b => dayDocs(dayOf(b)), b => dayVecs(dayOf(b)),
        nowMs = (10 + k) * Day + 5,
        intervalMs = Day, retries = 0, retryDelayMs = 1L, sleep = _ => (),
        compactEvery = 2, retainVersions = 2,
        takedownFor = b =>
          if (dayOf(b) == 2)
            Some(docs.filter(col("doc_id").isInCollection(dead)))
          else None)
      assert(res.nonEmpty && res.forall(_._2.last.ok),
        s"day $k had a failed stage: ${res.filter(!_._2.last.ok).map(_._1)}")
    }
    // the takedown stage has an ok row on every boundary (no-op days too)
    val hist = Versioned.read(spark, s"$work/runs")
      .filter(col("ok") && col("stage") === "takedown")
      .select("boundary_ms").as[Long].collect().toSet
    assert(hist == Set(9L * Day, 10L * Day, 11L * Day))

    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSeq
    val union = docs.filter(col("doc_id") < 300)
    val survivors = union.filter(!col("doc_id").isInCollection(dead))

    // lexical: the day-2 compaction merged the drop — the maintained
    // index equals a fresh build that never saw the docs
    val freshB = java.nio.file.Files.createTempDirectory("gtd-b").toString
    Index.build(Index.Bm25Spec(),
      Index.Text(survivors, col("doc_id"), col("text")), freshB)
    assert(rows(graft.operators.Retrieval.queryBm25Index(
        spark, s"$work/bm25", Seq("dup", "spark"), k = 10)) ==
      rows(graft.operators.Retrieval.queryBm25Index(
        spark, freshB, Seq("dup", "spark"), k = 10)))
    assert(Versioned.read(spark, s"$work/bm25/postings")
      .filter(col("doc_id").isInCollection(dead)).isEmpty,
      "merged postings must not hold the tombstoned docs")

    // chunk grain: one DOC takedown removed every span
    val freshC = java.nio.file.Files.createTempDirectory("gtd-c").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
      Index.Text(survivors, col("doc_id"), col("text")), freshC)
    assert(rows(graft.operators.Retrieval.lexical(spark,
      Lexical(s"$work/chunks"), Seq("dup"), 10)) ==
      rows(graft.operators.Retrieval.lexical(spark, Lexical(freshC), Seq("dup"),
        10)))

    // ANN: exhaustive probe ≡ brute force over the surviving vectors
    val queries = vecs.filter(col("id") < 2)
    assert(rows(graft.operators.Similarity.queryIvfIndex(spark,
        s"$work/ivf", queries, k = 5, nProbes = 16)
        .select("query_id", "cand_id", "sim")) ==
      rows(graft.operators.Similarity.bruteForceTopK(queries,
        vecs.filter(col("id") < 300 && !col("id").isInCollection(dead)), k = 5)
        .select("query_id", "cand_id", "sim")))

    // forward index: a tombstoned doc's text never mounts, dropped rows
    val spans = Seq((9L, 5L, 1L, 3L, 0.9), (9L, 6L, 1L, 3L, 0.8))
      .toDF("query_id", "doc_id", "span_start", "span_end", "score")
    val mounted = graft.operators.Retrieval.contextTextsIndexed(spark,
      spans, s"$work/fwd").select("doc_id").as[Long].collect().toSet
    assert(mounted == Set(6L))
    assert(Versioned.read(spark, s"$work/fwd/fwd")
      .filter(col("doc_id").isInCollection(dead)).isEmpty)

    // curation state: the dead docs' candidate rows and pair edges are
    // gone (the norm_fp + shingle-hash data a takedown must remove)
    assert(Versioned.read(spark, s"$work/state/candidates")
      .filter(col("doc_id").isInCollection(dead)).isEmpty)
    assert(Versioned.read(spark, s"$work/state/pairs")
      .filter(col("doc_a").isInCollection(dead) ||
        col("doc_b").isInCollection(dead)).isEmpty)

    // signal state: counts subtracted ≡ a state built without the docs
    val freshS = java.nio.file.Files.createTempDirectory("gtd-s").toString
    graft.operators.Corpus.buildSignalState(survivors, col("doc_id"),
      col("text"), freshS)
    Seq("nd", "c1", "c12", "vsz").foreach { t =>
      val a = Versioned.read(spark, s"$work/signals/$t")
      val b = Versioned.read(spark, s"$freshS/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"signals/$t diverged from the never-ingested state")
    }
  }

  test("DailyMaintenance with a df-cap ratio: day-0 builds derive doc- AND " +
      "chunk-grain stop sets, appends inherit the frozen sets through the " +
      "shared sidecar, the day-2 compaction RE-DERIVES them over the grown " +
      "corpus, and survivors score exactly as a fresh ratio-capped build") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    import graft.operators.Retrieval
    val work = java.nio.file.Files.createTempDirectory("graft-dailycap").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // days 1–2 carry a boilerplate burst the day-0 build never saw (a
    // new spam template): 'promoblock' ends at union df 200/300 > 0.5 —
    // the post-build-burst shape the compaction recap exists for
    def dayDocs(k: Int) = {
      val base =
        docs.filter(col("doc_id") >= k * 100 && col("doc_id") < (k + 1) * 100)
      if (k == 0) base
      else base.withColumn("text", concat(lit("promoblock "), col("text")))
    }
    def dayVecs(k: Int) =
      vecs.filter(col("id") >= k * 100 && col("id") < (k + 1) * 100)
    def dayOf(b: Long): Int = (b / Day - 9).toInt
    (0 until 3).foreach { k =>
      val res = graft.app.DailyMaintenance.tick(spark, work,
        b => dayDocs(dayOf(b)), b => dayVecs(dayOf(b)),
        nowMs = (10 + k) * Day + 5,
        intervalMs = Day, retries = 0, retryDelayMs = 1L, sleep = _ => (),
        compactEvery = 2, retainVersions = 1,
        stopMaxDfRatio = Some(0.5))
      assert(res.nonEmpty && res.forall(_._2.last.ok),
        s"day $k had a failed stage: ${res.filter(!_._2.last.ok).map(_._1)}")
    }
    val union = dayDocs(0).unionByName(dayDocs(1)).unionByName(dayDocs(2))
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSeq
    // the recap covers BOTH epochs of heaviness: tokens heavy at the
    // day-0 build were never stored, tokens that became heavy only once
    // the corpus grew were dropped by the day-2 compaction's recap —
    // the full union-derived heavy set is absent at BOTH grains
    val heavyDocU = toks(Retrieval.heavyTokens(union,
      col("doc_id"), col("text"), 0.5))
    val heavyChunkU = toks(Retrieval.heavyChunkTokens(union,
      col("doc_id"), col("text"), 32, 16, 0.5))
    val newlyDoc = heavyDocU.diff(toks(Retrieval.heavyTokens(dayDocs(0),
      col("doc_id"), col("text"), 0.5)))
    assert(heavyDocU.nonEmpty && heavyChunkU.nonEmpty,
      "fixture drift: the ratio must derive non-empty stop sets")
    assert(newlyDoc.contains("promoblock"),
      "the planted burst token must be newly heavy (absent at day 0)")
    assert(Versioned.read(spark, s"$work/bm25/postings")
      .filter(col("tok").isInCollection(heavyDocU)).isEmpty,
      "doc-grain postings must carry neither build-heavy nor newly-heavy tokens")
    assert(Versioned.read(spark, s"$work/chunks/postings")
      .filter(col("tok").isInCollection(heavyChunkU)).isEmpty,
      "chunk-grain postings must carry neither build-heavy nor newly-heavy tokens")
    // survivors score EXACTLY as a fresh ratio-capped build over the
    // union (true corpus stats on both sides — the q183 invariant,
    // held through 2 appends and a recapping compaction)
    val freshC = java.nio.file.Files.createTempDirectory("graft-dailycapf").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16), stopTokens = heavyChunkU,
      stopMaxDfRatio = Some(0.5)),
      Index.Text(union, col("doc_id"), col("text")), s"$freshC/chunks"): Unit
    def chunkQ(dir: String, terms: Seq[String]) =
      Retrieval.lexical(spark, Lexical(dir), terms, 10)
        .collect().map(_.toSeq).toSeq
    assert(chunkQ(s"$work/chunks", Seq("dup")) ==
      chunkQ(s"$freshC/chunks", Seq("dup")),
      "maintained chunk index must serve survivors exactly as fresh-capped")
    // a term stopped by the recap contributes nothing, mixed queries
    // rank by survivors alone — on the maintained index
    val stoppedC = heavyChunkU.head
    assert(!heavyChunkU.contains("dup"), "fixture drift: dup must survive")
    assert(chunkQ(s"$work/chunks", Seq(stoppedC)).isEmpty)
    assert(chunkQ(s"$work/chunks", Seq(stoppedC, "dup")) ==
      chunkQ(s"$work/chunks", Seq("dup")))
    // and the NEXT append still filters with the recapped (enlarged) set
    Index.append(Index.Text(Seq((900001L,
      (s"$stoppedC dup " * 4).trim)).toDF("doc_id", "text"), col("doc_id"),
        col("text")), s"$work/chunks"): Unit
    assert(Versioned.read(spark, s"$work/chunks/postings")
      .filter(col("tok") === stoppedC).isEmpty,
      "appends after the recap must inherit the enlarged frozen set")
  }

  test("a fresh unreleased claim on a COVERED boundary is releasable at " +
      "acquire: a failed release never stalls the historyDir until TTL") {
    val dir = java.nio.file.Files.createTempDirectory("claimcov").toString
    var runs = 0
    def tick(nowMs: Long) = Scheduler.tickStagesFor(spark, dir,
      _ => Seq("job" -> (() => { runs += 1 })), nowMs = nowMs,
      intervalMs = Day, retries = 0, sleep = _ => ()).flatMap(_._2)
    val a1 = tick(10 * Day + 5)
    assert(a1.nonEmpty && runs == 1)
    // simulate a crash between the history append and releaseClaim: a
    // FRESH unreleased claim sits on the already-covered boundary
    import graft.sources.Versioned
    val v = Versioned.latestVersion(spark, s"$dir/claims")
    Versioned.overwriteExpecting(
      Seq((9 * Day, 11 * Day + 1, "ghost-owner", false))
        .toDF("boundary_ms", "claimed_at_ms", "owner", "released"),
      s"$dir/claims", v + 1): Unit
    // the ghost claim is fresh (claimed_at ~ now) but its boundary is
    // covered — the next tick takes over instead of waiting out the TTL
    val a2 = tick(11 * Day + 5)
    assert(a2.nonEmpty && runs == 2,
      "a covered boundary's ghost claim must not block the next interval")
    // whereas a fresh claim on an UNCOVERED boundary still blocks
    val v2 = Versioned.latestVersion(spark, s"$dir/claims")
    Versioned.overwriteExpecting(
      Seq((11 * Day, 12 * Day + 1, "ghost-owner-2", false))
        .toDF("boundary_ms", "claimed_at_ms", "owner", "released"),
      s"$dir/claims", v2 + 1): Unit
    val a3 = tick(12 * Day + 5)
    assert(a3.isEmpty && runs == 2,
      "an uncovered boundary's fresh claim must keep blocking")
  }

  test("the scheduler has one runner and one claim protocol") {
    import scala.reflect.runtime.universe._
    // public members, default-argument getters aside
    val public = typeOf[Scheduler.type].decls
      .filter(m => m.isPublic && !m.isConstructor)
      .map(_.name.decodedName.toString.trim).filterNot(_.contains("$"))
      .toSet
    assert(public == Set("Attempt", "dueBoundary", "runWithRetries",
      "CoveredStage", "tickStagesFor", "main"), s"public members: $public")
    // one claim protocol: the single-flight claim's ttl is the runner's
    // argument, never a column of a per-boundary claim row
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/app/Scheduler.scala", "UTF-8").mkString
    assert(!src.contains("ttl_ms"), "Scheduler names a per-claim ttl column")
  }

  test("a legacy single-job runs table (no stage column) fails the tick " +
      "loudly: no stage runs and no claim is left unreleased") {
    import graft.sources.Versioned
    val dir = java.nio.file.Files.createTempDirectory("legacyruns").toString
    // the history shape a single-job runner wrote: one row per attempt,
    // no stage column, coverage = any ok row
    Versioned.append(Seq((9 * Day, 1, true, "", 10 * Day + 5))
      .toDF("boundary_ms", "attempt", "ok", "error", "recorded_at_ms"),
      s"$dir/runs"): Unit
    var runs = 0
    val e = intercept[IllegalArgumentException] {
      Scheduler.tickStagesFor(spark, dir,
        _ => Seq("job" -> (() => { runs += 1 })), nowMs = 12 * Day + 5,
        intervalMs = Day, retries = 0, sleep = _ => ())
    }
    assert(e.getMessage.contains("no stage column"), e.getMessage)
    assert(runs == 0, "no boundary of a legacy history may be (re-)run")
    assert(Versioned.read(spark, s"$dir/runs").count() == 1L)
    assert(!Versioned.exists(spark, s"$dir/claims") ||
      Versioned.read(spark, s"$dir/claims")
        .filter(!org.apache.spark.sql.functions.col("released")).isEmpty,
      "a refused tick must leave no unreleased claim")
  }

  test("a compaction crash between index commits can never eat the NEXT " +
      "boundary's batch: compact stages heal at their own boundary and " +
      "append stages verify the batch landed after a repair") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val work = java.nio.file.Files.createTempDirectory("graft-cc").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def dayDocs(k: Int) =
      docs.filter(col("doc_id") >= k * 100 && col("doc_id") < (k + 1) * 100)
    def dayVecs(k: Int) =
      vecs.filter(col("id") >= k * 100 && col("id") < (k + 1) * 100)
    def dayOf(b: Long): Int = (b / Day - 9).toInt
    def tickDay(k: Int): Unit = {
      val res = graft.app.DailyMaintenance.tick(spark, work,
        b => dayDocs(dayOf(b)), b => dayVecs(dayOf(b)),
        nowMs = (10 + k) * Day + 5, intervalMs = Day, retries = 0,
        retryDelayMs = 1L, sleep = _ => (), compactEvery = 1)
      assert(res.nonEmpty && res.forall(_._2.last.ok),
        s"day $k failed: ${res.filter(!_._2.last.ok).map(x =>
          x._1 -> x._2.last.error)}")
    }
    tickDay(0) // build
    tickDay(1) // append + compaction (compactEvery = 1)
    // simulate compactBm25Index dying between its postings and stats
    // commits on BOTH the doc-grain and the chunk-grain index: postings
    // one overwrite ahead (identical content), stats behind, chunk grid
    // stamp orphaned — the r12 silent-loss shape
    Versioned.compact(spark, s"$work/bm25/postings"): Unit
    Versioned.compact(spark, s"$work/chunks/postings"): Unit
    // day 2's append stages must repair the pair AND still land day 2's
    // batch (the broken pair was NOT day 2's crashed append)
    tickDay(2)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSeq
    val union = docs.filter(col("doc_id") < 300)
    val fresh = java.nio.file.Files.createTempDirectory("graft-cc-f").toString
    Index.build(Index.Bm25Spec(),
      Index.Text(union, col("doc_id"), col("text")), fresh): Unit
    assert(rows(graft.operators.Retrieval.queryBm25Index(spark,
        s"$work/bm25", Seq("dup", "spark"), k = 10)) ==
      rows(graft.operators.Retrieval.queryBm25Index(spark, fresh,
        Seq("dup", "spark"), k = 10)),
      "day 2's docs must be present — the healed pair must score like a " +
        "fresh 3-day build")
    val freshC = java.nio.file.Files.createTempDirectory("graft-cc-c").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
      Index.Text(union, col("doc_id"), col("text")), freshC): Unit
    assert(rows(graft.operators.Retrieval.lexical(spark,
      Lexical(s"$work/chunks"), Seq("dup", "spark"), 10)) ==
      rows(graft.operators.Retrieval.lexical(spark, Lexical(freshC),
        Seq("dup", "spark"), 10)),
      "the chunk index must heal its grid stamp and land day 2's chunks")
    // and the compact stage heals the same shape AT ITS OWN BOUNDARY: a
    // resumed bm25_compact repairs the pair even when appendDebt is 0
    Versioned.compact(spark, s"$work/bm25/postings"): Unit
    val stages = graft.app.DailyMaintenance.stages(spark, dayDocs(2),
      dayVecs(2), work, compactEvery = 99).toMap
    stages("bm25_compact")()
    assert(Versioned.latestVersion(spark, s"$work/bm25/postings") ==
      Versioned.latestVersion(spark, s"$work/bm25/stats"),
      "bm25_compact must restore lockstep at its own boundary")
    Versioned.compact(spark, s"$work/chunks/postings"): Unit
    stages("chunk_compact")()
    assert(Versioned.latestVersion(spark, s"$work/chunks/postings") ==
      Versioned.latestVersion(spark, s"$work/chunks/stats"))
    assert(graft.operators.Stamp.read(spark, s"$work/chunks",
      graft.operators.Stamp.chunkGrid("postings")).nonEmpty,
      "chunk_compact must restore the grid stamp at its own boundary")
  }

  test("the daily stage list is the resume contract: today's 22 stage " +
      "names in today's order, and the vacuum worklist covers the same " +
      "tables (no index is built: the closures are listed, never run)") {
    val work = "/nonexistent/daily"
    val names = graft.app.DailyMaintenance.stages(spark, spark.emptyDataFrame,
      spark.emptyDataFrame, work).map(_._1)
    assert(names == Seq("curate", "signal_state", "bm25_append",
      "chunk_append", "ivf_append", "chunk_ivf_append", "fwd_append",
      "chunk_pq_append", "supersede", "takedown", "bpe_retrain",
      "nb_retrain", "ivf_rebuild", "chunk_ivf_rebuild", "chunk_pq_rebuild",
      "bm25_compact", "chunk_compact", "ivf_compact", "chunk_ivf_compact",
      "chunk_pq_compact", "fwd_compact", "vacuum"))
    // the worklist is vacuumed table by table, so membership is the
    // contract: every table once, none added or lost
    val tables = graft.app.DailyMaintenance.maintainedTables(work)
    val dirs = Seq("bm25", "chunks", "ivf", "chunk_ivf", "chunk_pq", "fwd")
    val today = (Seq("state/candidates", "state/pairs", "signals/nd",
      "signals/c1", "signals/c12", "signals/vsz", "signals/dels",
      "bm25/postings", "bm25/stats", "chunks/postings", "chunks/stats",
      "ivf/centroids", "ivf/assignment", "chunk_ivf/centroids",
      "chunk_ivf/assignment", "chunk_pq/centroids", "chunk_pq/codebook",
      "chunk_pq/assignment", "chunk_pq/vectors", "fwd/fwd",
      "bpe_model/merges", "bpe_model/vocab", "nb_model/model",
      "nb_model/priors", "lineage", "runs", "claims") ++
      dirs.map(d => s"$d/${graft.operators.Tombstones.TableName}"))
      .map(t => s"$work/$t")
    assert(tables.size == today.size && tables.toSet == today.toSet,
      s"maintained tables changed: ${tables.diff(today)} vs ${today.diff(tables)}")
  }

  test("DailyMaintenance names no index writer but the four Index verbs") {
    val Writer = """\b(Retrieval|Similarity|Index)\.((?:build|append|compact|repair|rebuild|restamp)\w*)""".r
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/app/DailyMaintenance.scala", "UTF-8").mkString
    val named = Writer.findAllMatchIn(src).map(m => s"${m.group(1)}.${m.group(2)}")
      .toSet
    assert(named.subsetOf(Set("Index.build", "Index.append", "Index.compact",
      "Index.repair")), s"writers named: ${named.mkString(", ")}")
  }

  test("a model retrain that crashed between its commits heals on the next " +
      "tick: bpe_retrain and nb_retrain re-align a skewed pair and a " +
      "crashed first build on their first attempt, and cover the boundary") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    import graft.operators.{Bpe, Corpus}
    val batch = Seq(
      (1L, "the cat sat on the mat with the hat", "en"),
      (2L, "the dog sat on the log by the bog", "en"),
      (3L, "a cat and a dog ran to the mat", "en"),
      (4L, "le chat est sur le tapis de la maison", "fr"),
      (5L, "le chien est dans la maison de la ville", "fr"),
      (6L, "la maison est grande et le chat dort", "fr"))
      .toDF("doc_id", "text", "lang")
    val models = Set("bpe_retrain", "nb_retrain")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // only the model stages of the daily list, every boundary a retrain
    def tick(work: String, day: Int) = Scheduler.tickStagesFor(spark, work,
      b => graft.app.DailyMaintenance.stages(spark, batch, spark.emptyDataFrame,
          work, boundary = b, intervalMs = Day, retrainEvery = 1)
        .filter(s => models(s._1)),
      nowMs = day * Day + 5, intervalMs = Day, retries = 2,
      retryDelayMs = 1L, sleep = _ => ())
    def covered(work: String, b: Long) = Versioned.read(spark, s"$work/runs")
      .filter(col("ok") && col("stage") === Scheduler.CoveredStage &&
        col("boundary_ms") === b).count() == 1L
    // a fresh model pair on the same batch: what each healed one must equal
    val fresh = tmp("graft-models-fresh")
    Bpe.buildBpeModel(batch, col("text"), k = 40, s"$fresh/bpe_model"): Unit
    Corpus.buildNbModel(batch, col("lang"), col("text"), s"$fresh/nb_model"): Unit
    def ids(work: String) = Bpe.encodeIdsWithModel(spark, s"$work/bpe_model",
        batch, col("doc_id"), col("text"))
      .select("doc_id", "word_pos", "sym_pos", "tok_id")
      .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    def scores(work: String) = Corpus.scoreWithNbModel(spark,
        s"$work/nb_model", batch, col("doc_id"), col("text"))
      .select("doc_id", "predicted", "score")
      .as[(Long, String, Double)].collect().toSeq.sorted
    def advance(table: String): Unit =
      Versioned.overwrite(Versioned.read(spark, table), table): Unit

    // a retrain that died after its FIRST table: merges and model one
    // version ahead of vocab and priors
    val skewed = tmp("graft-models-skewed")
    val day9 = tick(skewed, 10)
    assert(day9.nonEmpty && day9.forall(_._2.last.ok))
    advance(s"$skewed/bpe_model/merges")
    advance(s"$skewed/nb_model/model")
    // a FIRST build that died after its first table: merges v0, no
    // vocab; model v0, no priors
    val first = tmp("graft-models-first")
    Seq("bpe_model/merges", "nb_model/model").foreach { t =>
      Versioned.overwrite(Versioned.read(spark, s"$fresh/$t"), s"$first/$t"): Unit
    }
    for ((work, v) <- Seq(skewed -> 2L, first -> 0L)) {
      val res = tick(work, 11)
      assert(res.map(_._1).toSet == models &&
          res.forall(r => r._2.size == 1 && r._2.head.ok),
        s"$work: ${res.map(r => r._1 -> r._2.map(_.error))}")
      assert(covered(work, 10 * Day), s"$work: boundary not covered")
      assert(Bpe.pinModel(spark, s"$work/bpe_model", None) == v)
      assert(Corpus.pinNbModel(spark, s"$work/nb_model", None) == v)
      assert(ids(work) == ids(fresh), "healed tokenizer differs from a fresh one")
      assert(scores(work) == scores(fresh), "healed NB model differs from a fresh one")
    }
  }

  test("multi-table artifacts are declared once: no table list at a pin " +
      "or cache site, no hand-rolled version check, and DailyMaintenance " +
      "names no table of a declared artifact") {
    import graft.operators.{Bpe, Corpus, Curation, Similarity}
    def under(dir: java.io.File): Seq[java.io.File] = dir.listFiles.toSeq
      .flatMap(f => if (f.isDirectory) under(f) else Seq(f))
      .filter(_.getName.endsWith(".scala"))
    val sources = under(new java.io.File("src/main/scala")).map(f =>
      f.getPath -> scala.io.Source.fromFile(f, "UTF-8").mkString)
    // the top-level arguments of every call of `fn` in `src`
    def calls(src: String, fn: String): Seq[Seq[String]] =
      (java.util.regex.Pattern.quote(fn) + "\\(").r.findAllMatchIn(src).map { m =>
        val args = scala.collection.mutable.ArrayBuffer(new StringBuilder)
        var depth = 1
        var i = m.end
        while (depth > 0) {
          src(i) match {
            case '(' => depth += 1; args.last += '('
            case ')' => depth -= 1; if (depth > 0) args.last += ')'
            case ',' if depth == 1 => args += new StringBuilder
            case c => args.last += c
          }
          i += 1
        }
        args.map(_.toString.trim).toSeq
      }.toSeq
    // a pin's artifact and a cache's artifact are declarations, never
    // string literals
    val offenders = sources.filterNot(_._1.endsWith("sources/Versioned.scala"))
      .filter { case (_, src) =>
        calls(src, "Versioned.lockstep").exists(_.lift(2).exists(_.contains('"'))) ||
          calls(src, "CachedArtifact.resolve").exists(_.drop(3).exists(_.contains('"')))
      }.map(_._1)
    assert(offenders.isEmpty, s"table lists at pin/cache sites: $offenders")
    val diverged = sources.filter(_._2.contains("diverged")).map(_._1)
    assert(diverged.isEmpty, s"hand-rolled version checks: $diverged")
    val declared = (Seq(Curation.State, Corpus.SignalState, Bpe.Model,
      Corpus.NbModel, Similarity.GateCounted) ++
      Seq(Index.Bm25, Index.Ivf, Index.Pq, Index.Forward).map(_.artifact))
      .flatMap(_.tables).distinct
    val daily = sources.collectFirst {
      case (p, src) if p.endsWith("app/DailyMaintenance.scala") => src }.get
    val literals = "\"(?:[^\"\\\\]|\\\\.)*\"".r.findAllIn(daily).toSeq
    val named = for (l <- literals; t <- declared
      if s"/$t(?![A-Za-z0-9_])".r.findFirstIn(l).nonEmpty) yield l
    assert(named.isEmpty, s"DailyMaintenance names declared tables: $named")
  }
}
