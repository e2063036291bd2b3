package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** Document UPDATE / supersede — the RECRAWL path (SURVEY §8, round
  * 16): the same logical document re-fetched with new content, routine
  * at 100 TB scale (the reference's daily batch over MUTABLE RDS rows
  * IS a recrawl feed — reference 0affc6b7559b_dag.py:30 re-ingests
  * rows whose content may have changed since the last run). Before
  * this operator an update needed a manual tombstone plus an unrelated
  * new doc_id: nothing tied v2 to v1 for dedup/lineage, and the gap
  * between the two calls (or a crash inside it) served both versions
  * or neither.
  *
  * One maintenance-stage call does the whole swap for a batch of
  * (old_id, new_id) pairs whose NEW documents were ingested by the
  * SAME boundary's append stages (the stage order in
  * [[graft.app.DailyMaintenance]] guarantees it):
  *
  *  1. the predecessors tombstone in every serving artifact
  *     (reason "superseded" — the audit trail names the cause) so v1
  *     stops serving at the next probe while v2 already serves;
  *  2. the predecessors' counts subtract from the signal state —
  *     text re-read from the FORWARD index's raw rows (tokens
  *     round-trip losslessly through the single-space join, so the
  *     subtraction sees byte-identical text; the raw read bypasses the
  *     tombstone gate, which is exactly right: maintenance must still
  *     see what serving must not);
  *  3. the predecessors' curation-state rows and pair edges drop —
  *     with the (v1, v2) near-dup edge the curate stage just created,
  *     so the successor is never suppressed as a near-dup of its OWN
  *     predecessor (the "one logical doc" semantics);
  *  4. a (new_id, old_id, boundary) row lands in the persisted
  *     `lineage` Versioned table — the linkage dedup/attribution/
  *     compliance queries need, committed LAST.
  *
  * ATOMICITY is at boundary grain, the engine-wide discipline: a crash
  * between any two sub-steps leaves the boundary uncovered, the next
  * tick resumes the stage, and every sub-step is retry-safe — the
  * tombstone re-add is anti-join-idempotent, the signal delete names
  * its batch (`supersede:<boundary>` through the dels claim table —
  * exactly-once), the curation delete no-ops once applied, and the
  * lineage append anti-joins existing pairs. After the boundary
  * covers, the corpus state is indistinguishable (spec-proven across
  * BM25 / ANN / forward / funnel) from one that only ever ingested v2.
  *
  * Divergence note (inherent to incremental exact-dedup, shared with
  * [[Curation.deleteFromState]]): a v2 whose NORMALIZED text equals
  * v1's is dropped by the curate stage's norm_fp anti-join before the
  * swap runs — a byte-identical recrawl is not an update; supersede is
  * for content that changed.
  *
  * Scale shape: everything is update-list-sized — broadcast semi/anti
  * joins against the tiny pair batch; the forward-index text fetch is
  * a DPP-pruned shard read; no corpus rescans anywhere.
  */
object Supersede {

  /** The lineage table under a maintenance work dir, declared as a
    * one-table artifact: committed LAST by [[supersede]], so its presence
    * marks a fully-applied supersede. */
  val Lineage: Versioned.Artifact = Versioned.Artifact("supersede lineage",
    Seq("lineage"), "rerun supersede (a fully-applied retry commits nothing)")

  /** The lineage table's path under a maintenance work dir. */
  def lineageTable(work: String): String = s"$work/${Lineage.tables.head}"

  /** Apply a batch of (old_id, new_id) supersede pairs at `boundary`.
    * `indexDirs` = every live serving artifact (the takedown list);
    * `work` roots the fwd/signals/state/lineage artifacts. Returns the
    * number of NEW lineage rows committed (0 = fully-applied retry).
    */
  def supersede(spark: SparkSession, updates: DataFrame, work: String,
                boundary: Long, indexDirs: Seq[String]): Long = {
    val pairs = updates
      .select(col("old_id").cast("long").as("old_id"),
        col("new_id").cast("long").as("new_id"))
      .distinct().localCheckpoint(eager = false) // feeds every sub-step
    val fwdT = s"$work/fwd/fwd"
    require(Versioned.exists(spark, fwdT),
      s"supersede needs the forward index at $fwdT — it is both the " +
        "proof the successors were ingested and the predecessors' text " +
        "source for the signal-state subtraction")
    // raw (ungated) read: a retried stage must still fetch text the
    // tombstone it already wrote would hide
    val fwd = Versioned.read(spark, fwdT)

    // successors must be IN (this boundary's append stages ran first);
    // predecessors must be PHYSICALLY present (their compaction drop
    // only happens after this stage in the chain) — bounded counts
    val missingNew = pairs.join(
      fwd.select(col("doc_id").as("new_id")), Seq("new_id"), "left_anti")
    require(missingNew.isEmpty, "supersede: successor docs missing from " +
      s"the forward index — new docs must ride the same boundary's " +
      s"ingest batch (missing: ${missingNew.select(col("new_id"))
        .limit(5).collect().map(_.getLong(0)).mkString(", ")} …)")
    val missingOld = pairs.join(
      fwd.select(col("doc_id").as("old_id")), Seq("old_id"), "left_anti")
    require(missingOld.isEmpty, "supersede: predecessor docs missing " +
      "from the forward index — never ingested, or already physically " +
      s"dropped (missing: ${missingOld.select(col("old_id"))
        .limit(5).collect().map(_.getLong(0)).mkString(", ")} …)")

    val oldIds = pairs.select(col("old_id").as("doc_id"))

    // 1. gate v1 everywhere, with audit provenance
    Tombstones.addAll(oldIds, indexDirs, reason = "superseded",
      requestedAt = boundary, boundary = boundary)

    // 2. exactly-once signal-state subtraction off the fwd-index text
    if (Versioned.exists(spark, s"$work/signals", Corpus.SignalState)) {
      val oldDocs = fwd
        .join(broadcast(oldIds), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), array_join(col("toks"), " ").as("text"))
      Corpus.deleteFromSignalState(oldDocs, col("doc_id"), col("text"),
        s"$work/signals", batchId = Some(s"supersede:$boundary")): Unit
    }

    // 3. curation state: drop v1's rows and every edge touching it —
    // including the fresh (v1, v2) near-dup edge
    if (Versioned.exists(spark, s"$work/state", Curation.State))
      Curation.deleteFromState(spark, s"$work/state", oldIds): Unit

    // 4. lineage, committed last: the retry detector for the whole
    // stage rides the artifacts above, so lineage present ⇒ all done
    val lt = lineageTable(work)
    val fresh =
      if (!Versioned.exists(spark, lt)) pairs
      else pairs.join(Versioned.read(spark, lt),
        Seq("old_id", "new_id"), "left_anti")
    val rows = fresh.select(col("new_id"), col("old_id"),
      lit(boundary).as("boundary"))
    val n = rows.count() // bounded: update lists are takedown-sized
    if (n > 0) {
      if (Versioned.exists(spark, lt)) Versioned.append(rows, lt): Unit
      else Versioned.overwrite(rows, lt): Unit
    }
    n
  }

  /** The persisted lineage relation (new_id, old_id, boundary), empty
    * when no supersede ever ran. */
  def lineage(spark: SparkSession, work: String): DataFrame = {
    val lt = lineageTable(work)
    if (!Versioned.exists(spark, lt))
      spark.emptyDataFrame.select(lit(0L).as("new_id"),
        lit(0L).as("old_id"), lit(0L).as("boundary")).limit(0)
    else Versioned.read(spark, lt)
      .select(col("new_id"), col("old_id"), col("boundary"))
  }

  /** Resolve each id to its LATEST successor by walking the lineage
    * graph (a re-recrawled doc chains v1→v2→v3): iterated self-joins
    * on the hop table, converging in ⌈log₂ longest-chain⌉ rounds via
    * path doubling — lineage-sized work, never corpus-sized. Output:
    * (doc_id, latest_id); ids with no successor map to themselves.
    */
  def resolveLatest(spark: SparkSession, work: String,
                    ids: DataFrame, maxHops: Int = 32): DataFrame = {
    val hops = lineage(spark, work)
      .select(col("old_id"), col("new_id")).distinct()
      .localCheckpoint(eager = false)
    var cur = ids.select(col("doc_id"), col("doc_id").as("latest_id"))
      .localCheckpoint(eager = false)
    var rounds = 0
    var changed = true
    while (changed && rounds < maxHops) {
      val next = cur.join(hops, cur("latest_id") === hops("old_id"), "left")
        .select(cur("doc_id"),
          coalesce(hops("new_id"), cur("latest_id")).as("latest_id"))
        .localCheckpoint(eager = false) // iterative plan — cut lineage
      changed = !next.join(cur, Seq("doc_id", "latest_id"), "left_anti")
        .isEmpty
      cur = next
      rounds += 1
    }
    cur
  }
}
