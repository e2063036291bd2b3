package graft.app

import org.apache.spark.sql.SparkSession
import graft.sources.Versioned

/** Scheduled-batch orchestration — the engine-side analogue of the
  * reference's Airflow DAG (reference 0affc6b7559b_dag.py:23-43:
  * `schedule_interval='@daily'`, `retries: 2`, `retry_delay: 2 min`,
  * `catchup=False`, submitting one batch job per interval). The
  * reference delegates these semantics to Airflow; here they are one
  * small, fully spec-testable runner, [[tickStagesFor]], over a linear
  * chain of stages (a single job is a one-stage chain):
  *
  *  - **fixed-interval schedule**: intervals are `[k·interval,
  *    (k+1)·interval)` epochs; a run is due when `now` has crossed a
  *    boundary the last successful run has not covered;
  *  - **resume first, then no catchup**: a started-but-uncovered
  *    boundary is retried before any later one; untouched missed
  *    intervals collapse to the LATEST boundary (Airflow's
  *    `catchup=False`) — a runner that was down for a week runs once,
  *    not seven times;
  *  - **bounded retries with delay**: a failing stage re-runs up to
  *    `retries` more times, sleeping `retryDelayMs` between attempts;
  *    the final failure is recorded, never thrown away;
  *  - **run history as data**: every attempt appends to a
  *    [[graft.sources.Versioned]] `runs` table beside the job's own
  *    outputs — the crash/retry trail is queryable like anything else.
  *
  * Clock and sleeper are INJECTED so every semantic above is asserted
  * in SchedulerSpec without wall time; `main` wires the real clock
  * around the daily incremental-curation batch (the engine's natural
  * daily job, [[graft.operators.Curation.curateBatch]]).
  */
object Scheduler {

  /** One attempt's outcome. */
  final case class Attempt(attempt: Int, ok: Boolean, error: String)

  /** The boundary (epoch ms, multiple of `intervalMs`) a run should
    * cover now, if any: the start of the latest fully-ELAPSED interval
    * `[due, due + intervalMs)` not yet covered by `lastCovered` —
    * Airflow's data-interval rule (a daily run triggered just after
    * midnight covers YESTERDAY, the day that has actually elapsed).
    * `catchup = false` semantics — at most ONE boundary regardless of
    * how many were missed. Before the first interval has elapsed
    * (`nowMs < intervalMs`) nothing is due.
    *
    * Migration note: this is the data-interval reading (boundary b
    * covers [b, b+interval)); histories written under the pre-r10
    * interval-START reading carry boundary values one interval ahead,
    * so the first post-upgrade tick treats the last pre-upgrade
    * interval as covered — re-run that interval's batch once by hand
    * if its data matters.
    */
  def dueBoundary(nowMs: Long, lastCovered: Option[Long],
                  intervalMs: Long): Option[Long] = {
    require(intervalMs > 0, s"intervalMs must be positive, got $intervalMs")
    val due = (nowMs / intervalMs) * intervalMs - intervalMs
    if (due >= 0 && lastCovered.forall(_ < due)) Some(due) else None
  }

  /** Run `job` with the DAG's retry discipline: up to `retries` extra
    * attempts, `sleep(retryDelayMs)` between them. Returns every
    * attempt's outcome in order (size ≤ retries + 1); the run succeeded
    * iff the last attempt's `ok`.
    */
  def runWithRetries(job: () => Unit, retries: Int, retryDelayMs: Long,
                     sleep: Long => Unit): Seq[Attempt] = {
    require(retries >= 0, s"retries must be >= 0, got $retries")
    val out = Seq.newBuilder[Attempt]
    var attempt = 0
    var done = false
    while (!done && attempt <= retries) {
      attempt += 1
      val r = try { job(); Attempt(attempt, ok = true, "") }
      catch { case e: Exception =>
        Attempt(attempt, ok = false, Option(e.getMessage).getOrElse(e.toString))
      }
      out += r
      done = r.ok
      if (!done && attempt <= retries) sleep(retryDelayMs)
    }
    out.result()
  }

  /** The coverage marker row's stage name: appended once per boundary
    * AFTER every stage succeeded, so "is this interval covered?" is one
    * filter regardless of how the stage list evolves across deploys.
    */
  val CoveredStage = "_covered"

  // ------------------------------------------------ concurrent-tick claim
  //
  // Two processes ticking the same historyDir (cron double-fire,
  // overlapping deploys) would both read the runs table, both pick the
  // same boundary, and both run — additive stages (signal counts, index
  // postings) double-apply. The guard is a SINGLE-FLIGHT CLAIM on a
  // 1-row Versioned `claims` table beside `runs`, taken with the
  // overwriteExpecting CAS (the lockstep discipline the indexes use).
  // Single-flight is the declared scope, not an accident: the runner is
  // one tick per historyDir at a time — one boundary per tick, resumes
  // ordered — so ANY fresh unreleased claim blocks, regardless of which
  // boundary it names (two tickers running DIFFERENT boundaries of the
  // same historyDir would interleave their stage chains over shared
  // composed artifacts, which no stage list here is written for).
  //
  //  - of two SIMULTANEOUS tickers, both read claim version v and both
  //    try to commit at v+1 — the log-entry race has exactly one
  //    winner, the loser returns empty;
  //  - a ticker arriving while ANY fresh unreleased claim exists loses
  //    without racing (the claimant is presumed live);
  //  - a tick RELEASES its claim on the way out (best-effort), so a
  //    failed boundary resumes at the very next tick;
  //  - a claimant that CRASHED mid-run never releases — its claim goes
  //    stale after `claimTtlMs` (default: one interval) and the next
  //    ticker takes over via CAS, resuming the boundary;
  //  - the claim row carries an OWNER token, and the claimant
  //    RE-VERIFIES ownership before each stage and before recording its
  //    result (fencing): a slow-but-alive claimant whose claim was
  //    taken over past the TTL stops at the next stage boundary instead
  //    of re-running the rest of the chain in parallel with the taker —
  //    bounding the double-apply window to the one stage in flight at
  //    takeover (the same one-stage window a crash already has).

  private def claimsTable(historyDir: String) = s"$historyDir/claims"

  /** True iff `boundary` carries a [[CoveredStage]] marker — the
    * release-failure disambiguator [[acquireClaim]] consults: a fresh
    * unreleased claim whose boundary is COVERED means the claimant
    * finished its work and only its best-effort release write failed;
    * honoring such a claim until the TTL would stall every tick on the
    * historyDir for up to claimTtlMs over a run that has nothing left
    * to protect. A read failure counts as NOT covered — fail-safe: the
    * claim keeps blocking as before.
    */
  private def boundaryCovered(spark: SparkSession, historyDir: String,
                              boundary: Long): Boolean = try {
    import org.apache.spark.sql.functions.col
    val t = s"$historyDir/runs"
    Versioned.exists(spark, t) && !Versioned.read(spark, t)
      .filter(col("ok") && col("boundary_ms") === boundary &&
        col("stage") === CoveredStage).isEmpty
  } catch { case _: Exception => false }

  /** Returns the owner token on success, None when another claimant
    * holds a fresh claim or wins the CAS race.
    */
  private def acquireClaim(spark: SparkSession, historyDir: String,
                           boundary: Long, nowMs: Long,
                           ttlMs: Long): Option[String] = {
    import spark.implicits._
    val t = claimsTable(historyDir)
    val owner = java.util.UUID.randomUUID.toString
    val row = Seq((boundary, nowMs, owner, false))
      .toDF("boundary_ms", "claimed_at_ms", "owner", "released")
    val vNext =
      if (!Versioned.exists(spark, t)) 0L
      else {
        val v = Versioned.latestVersion(spark, t)
        // single-flight: ANY fresh unreleased claim blocks — with
        // claimTtlMs > intervalMs a live claimant on an older boundary
        // must still exclude a second ticker (schema-tolerant read: the
        // liveness fields predate the owner column)
        val cur = Versioned.read(spark, t, Some(v))
          .select("boundary_ms", "claimed_at_ms", "released")
          .as[(Long, Long, Boolean)].collect().headOption
        val live = cur.exists { case (_, at, rel) => !rel && at > nowMs - ttlMs }
        // a live claim whose boundary is already covered is a FINISHED
        // run whose release write failed — releasable now instead of
        // stalling the historyDir until the TTL (availability only: the
        // finished claimant holds no further work to double-apply)
        if (live && !cur.exists(c => boundaryCovered(spark, historyDir, c._1)))
          return None
        v + 1
      }
    try {
      Versioned.overwriteExpecting(row, t, vNext): Unit
      Some(owner)
    } catch { case _: IllegalArgumentException => None }
  }

  /** True iff the latest claim row is OURS and unreleased — the fencing
    * check a claimant runs before each stage and before recording its
    * result. A read failure counts as lost (fail-safe: stop running,
    * never double-apply).
    */
  private def ownsClaim(spark: SparkSession, historyDir: String,
                        owner: String): Boolean = try {
    import spark.implicits._
    Versioned.read(spark, claimsTable(historyDir))
      .select("owner", "released").as[(String, Boolean)]
      .collect().headOption.contains((owner, false))
  } catch { case _: Exception => false }

  /** Best-effort: only our own live claim is flipped to released — a
    * stale-takeover's claim belongs to the taker, and a lost release
    * race merely leaves the TTL to expire.
    */
  private def releaseClaim(spark: SparkSession, historyDir: String,
                           boundary: Long, claimedAt: Long,
                           owner: String): Unit = try {
    import spark.implicits._
    val t = claimsTable(historyDir)
    val v = Versioned.latestVersion(spark, t)
    val cur = Versioned.read(spark, t, Some(v))
      .select("owner", "released")
      .as[(String, Boolean)].collect().headOption
    if (cur.contains((owner, false)))
      Versioned.overwriteExpecting(
        Seq((boundary, claimedAt, owner, true))
          .toDF("boundary_ms", "claimed_at_ms", "owner", "released"),
        t, v + 1): Unit
  } catch { case _: Exception => () }

  /** The scheduler's one runner: one tick of a linear stage chain (the
    * Airflow task-chain shape; a single job is a one-stage list) over
    * BOUNDARY-ADDRESSED stages: `stagesFor` builds the stage list FOR
    * the data interval being processed, so a resumed boundary runs
    * against ITS batch — never whichever batch happens to be current at
    * resume time. Stages run in order, each with the full retry
    * discipline; a stage that exhausts its retries FAILS THE RUN and the
    * remaining stages are skipped (their absence from the history is
    * the skip record — exactly Airflow's upstream_failed). One history
    * row per (stage, attempt) goes to `historyDir/runs` (boundary_ms,
    * stage, stage_idx, attempt, ok, error, recorded_at_ms), plus one
    * [[CoveredStage]] marker row when the whole chain succeeded — the
    * boundary counts as covered ONLY then.
    *
    * Concurrency: the chosen boundary is CLAIMED before any stage runs
    * (see the claim block above) — of two tickers racing the same
    * historyDir, exactly one executes; the loser returns empty. The
    * claim releases on the way out and goes stale after `claimTtlMs`
    * (default: one interval) if the claimant crashed.
    *
    * Boundary selection: a boundary that was STARTED (has any history
    * row) but never covered is resumed FIRST, even after later
    * intervals elapse — its early stages already hold its batch, so
    * abandoning it would leave the composed artifacts permanently
    * inconsistent (some with day N, some without) with no error anywhere.
    * catchup=false's gap collapse applies only to boundaries never
    * touched. One boundary per tick: after a resume, the next interval
    * waits for the next tick.
    *
    * On resume, stages with an ok row for the boundary are SKIPPED
    * (Airflow's clear-and-rerun — only failed and never-run tasks
    * execute). The crash window, stated honestly: a stage's side
    * effects commit BEFORE its history row appends, so a crash landing
    * exactly between the two re-runs the stage on resume. Stages whose
    * artifacts heal or refuse replays (lockstep CAS, read-repair)
    * absorb that; a purely ADDITIVE stage (signal counts, index
    * postings) double-applies in that window — a deployment that
    * cannot tolerate it must make the stage idempotent per boundary.
    *
    * A `runs` table without a `stage` column (the single-job history
    * schema of earlier releases) fails the tick before any claim or
    * stage: its rows cannot say which boundaries are covered.
    * Returns the attempts per stage RUN THIS TICK in order (empty =
    * nothing due).
    */
  def tickStagesFor(spark: SparkSession, historyDir: String,
                    stagesFor: Long => Seq[(String, () => Unit)],
                    nowMs: Long, intervalMs: Long, retries: Int = 2,
                    retryDelayMs: Long = 120000L,
                    sleep: Long => Unit = Thread.sleep,
                    claimTtlMs: Long = 0L): Seq[(String, Seq[Attempt])] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, min}
    val runsTable = s"$historyDir/runs"
    // boundary selection off two pushed-down aggregates (never a full
    // history collect — the runs table grows for the deployment's life)
    val (lastOk, resumable) =
      if (!Versioned.exists(spark, runsTable)) (None, None)
      else {
        val runs = Versioned.read(spark, runsTable)
        require(runs.columns.contains("stage"), s"$runsTable has no stage " +
          "column: it is a single-job history from an earlier release. Move " +
          "it aside; the next tick then covers only the latest elapsed " +
          "interval, so no old boundary re-runs")
        val coveredMax = runs
          .filter(col("ok") && col("stage") === CoveredStage)
          .agg(max(col("boundary_ms")))
          .as[Option[Long]].collect().headOption.flatten
        // earliest started-but-uncovered boundary (at most one in
        // practice — one boundary per tick): the resume obligation
        val touchedMin = coveredMax.fold(runs)(m =>
            runs.filter(col("boundary_ms") > m))
          .agg(min(col("boundary_ms")))
          .as[Option[Long]].collect().headOption.flatten
        (coveredMax, touchedMin)
      }
    resumable.orElse(dueBoundary(nowMs, lastOk, intervalMs)) match {
      case None => Seq.empty
      case Some(boundary) =>
        val stages = stagesFor(boundary)
        require(stages.nonEmpty, "tickStagesFor needs at least one stage")
        require(!stages.exists(_._1 == CoveredStage),
          s"stage name $CoveredStage is reserved for the coverage marker")
        val ttl = if (claimTtlMs > 0) claimTtlMs else intervalMs
        acquireClaim(spark, historyDir, boundary, nowMs, ttl) match {
          case None => Seq.empty
          case Some(owner) => try {
            def owns = ownsClaim(spark, historyDir, owner)
            def record(name: String, idx: Int, as: Seq[Attempt]): Unit =
              Versioned.append(as.map(a => (boundary, name, idx, a.attempt,
                a.ok, a.error, nowMs)).toDF("boundary_ms", "stage",
                "stage_idx", "attempt", "ok", "error", "recorded_at_ms"),
                runsTable): Unit
            // stages already ok for THIS boundary (a prior failed run got
            // partway through) — resume after them, never re-apply
            val doneStages: Set[String] =
              if (!Versioned.exists(spark, runsTable)) Set.empty
              else Versioned.read(spark, runsTable)
                .filter(col("ok") && col("boundary_ms") === boundary)
                .select("stage").distinct().as[String].collect().toSet
            val out = Seq.newBuilder[(String, Seq[Attempt])]
            // false once a stage exhausts its retries or the claim is
            // lost (fenced: a slow claimant whose claim was taken over
            // stops at the next stage boundary instead of racing the
            // taker down the chain)
            var go = true
            stages.zipWithIndex.foreach { case ((name, job), idx) =>
              if (go && !doneStages.contains(name)) {
                go = owns
                if (go) {
                  val attempts =
                    runWithRetries(job, retries, retryDelayMs, sleep)
                  out += name -> attempts
                  go = owns
                  if (go) {
                    record(name, idx, attempts)
                    go = attempts.last.ok
                  }
                }
              }
            }
            if (go && owns)
              record(CoveredStage, stages.size, Seq(Attempt(0, ok = true, "")))
            out.result()
          } finally releaseClaim(spark, historyDir, boundary, nowMs, owner)
        }
    }
  }

  /** Real-clock entry point: one tick of the daily incremental-curation
    * batch, a one-stage chain. Run from cron/systemd per the
    * deployment's cadence — the runner is a TICK, not a daemon, so
    * process supervision stays with the platform (the same division of
    * labor the reference delegates to Airflow's scheduler process).
    *
    * Usage: tools/run.sh graft.app.Scheduler [sfDir] [workDir]
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scheduler")
    val spark = graft.LocalSession()
    import org.apache.spark.sql.functions.col
    val attempts = tickStagesFor(spark, workDir, _ => Seq("curate" -> (() => {
        graft.operators.Curation.curateBatch(
          graft.Tables.documents(spark, sfDir), s"$workDir/state"): Unit })),
      nowMs = System.currentTimeMillis(),
      intervalMs = 24L * 3600 * 1000).flatMap(_._2)
    if (attempts.isEmpty) println("[scheduler] nothing due")
    else println(s"[scheduler] ran ${attempts.size} attempt(s), " +
      s"ok=${attempts.last.ok}")
    val history = Versioned.read(spark, s"$workDir/runs")
      .orderBy(col("boundary_ms"), col("stage_idx"), col("attempt"))
    history.show(20, truncate = false)
    spark.stop()
  }
}
