package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** Document DELETION from the persisted serving indexes — the takedown
  * / opt-out / discovered-contamination path a 100 TB training-data
  * pipeline needs routinely (GDPR erasure, DMCA takedown, a benchmark
  * leak found after ingestion). Lucene's delete-then-merge split,
  * re-expressed over the engine's Versioned index family:
  *
  *  - **Logical delete now**: [[add]] appends doc ids to a small
  *    `tombstones/` Versioned table beside the index's own tables.
  *    Every query path filters its CANDIDATE stream against the
  *    tombstone id set (a plan literal) BEFORE ranking (the no-starvation
  *    discipline — survivors fill the top-k), so a tombstoned document
  *    stops being served the moment the tombstone commits. Term/corpus
  *    statistics (df, cf, n_docs, sum_dl) stay PRE-delete until the
  *    merge — exactly Lucene's semantics, where deleted docs keep
  *    counting in docFreq until segments merge — so a survivor's score
  *    is unchanged by a pending delete.
  *  - **Physical drop at the compaction cadence**: the index
  *    compactions ([[Retrieval.compactBm25Index]],
  *    [[Index.compact]])
  *    filter the tombstoned rows out of the data tables and CORRECT the
  *    corpus statistics (n_docs/sum_dl subtract the dropped documents'
  *    denormalized lengths), after which the index is row-identical to
  *    a fresh build without the documents (spec-proven) and every df/cf
  *    derived per-query from the postings is post-delete automatically.
  *
  * Retroactivity: gates always read the LATEST tombstone set, even for
  * `asOf`-pinned probes — a takedown must stop a pinned serving stream
  * too; time travel answers "what did the index hold", never "serve the
  * deleted document again". The serving STREAMS get this for free:
  * every [[graft.streaming.StreamJobs]] serve loop rebuilds its probe
  * inside foreachBatch, so the gate re-reads the tombstones each
  * micro-batch and a mid-stream takedown applies from the next batch
  * without a restart (even on a version-pinned stream).
  *
  * Re-ingestion: the append paths' new-doc-only invariant plus the
  * always-on gate mean a tombstoned doc_id is dead forever — re-adding
  * the same id would be shadowed. Re-ingesting content later (e.g. an
  * opt-out reversed) takes a new doc_id, consistent with the
  * append-only discipline every state artifact shares.
  *
  * Idempotence & growth: [[add]] is append-only and the gate is a
  * set-membership filter, so re-adding an id is harmless; the table is
  * takedown-list-sized (tiny against the corpus — its ids are collected
  * once per tombstone version and planned as a literal), is
  * never cleared (a pinned pre-drop read must stay gated), and rides
  * the same compact/vacuum cadence as every other maintained table.
  *
  * Chunk-grain indexes (composite key doc_id·2³² + chunk_start) store
  * tombstones at DOCUMENT grain; gates and drops decode the high 32
  * bits ([[Retrieval]]'s chunk-key convention), so one takedown removes
  * every span of the document across every grain.
  */
object Tombstones {

  /** The tombstone table's subpath under an index dir. */
  val TableName = "tombstones"

  def table(indexDir: String): String = s"$indexDir/$TableName"

  /** Append doc ids to `indexDir`'s tombstone set (creating it on first
    * use). `docIds` may be any relation with a `doc_id` column; ids are
    * long (the engine-wide doc key). Returns the committed version.
    *
    * AUDIT TRAIL: every row carries (reason, requested_at, boundary) —
    * a real takedown pipeline must be able to DEMONSTRATE erasure
    * (GDPR art. 17 / DMCA both require who/why/when, not just that the
    * doc stopped serving), so the compliance record rides the gate
    * table itself instead of a side system that can drift from it.
    * `reason` is the request class ("dmca", "optout", "superseded",
    * …); `requestedAt` the request's epoch ms; `boundary` the
    * maintenance boundary at which the gate became effective. Gates
    * read doc_id only (audit columns are metadata, parquet-pruned
    * away); [[audit]] serves the full trail. Tables written before the
    * audit columns existed migrate in place on first touch (tombstone
    * tables are takedown-list-sized — the rewrite is trivial).
    */
  def add(docIds: DataFrame, indexDir: String,
          reason: String = "unspecified",
          requestedAt: Long = 0L,
          boundary: Long = 0L): Long = {
    // row-level audit columns on the input win over the call-level
    // scalars (a mixed takedown list carries per-request provenance)
    def c(name: String, dflt: Column): Column =
      if (docIds.columns.contains(name)) col(name) else dflt
    val rows = docIds.select(col("doc_id").cast("long").as("doc_id"),
        c("reason", lit(reason)).cast("string").as("reason"),
        c("requested_at", lit(requestedAt)).cast("long").as("requested_at"),
        lit(boundary).as("boundary"))
      .distinct()
    val t = table(indexDir)
    val spark = rows.sparkSession
    if (!Versioned.exists(spark, t)) Versioned.overwrite(rows, t)
    else {
      migrate(spark, t)
      Versioned.append(rows, t)
    }
  }

  /** In-place schema migration for a pre-audit tombstone table: add the
    * audit columns with explicit "unknown provenance" defaults so later
    * appends land on one schema (per-commit schemas are not merged at
    * read). No-op on current-schema tables.
    */
  private def migrate(spark: SparkSession, t: String): Unit = {
    val cur = Versioned.read(spark, t)
    if (!cur.columns.contains("reason"))
      Versioned.overwrite(cur
        .withColumn("reason", lit("unspecified"))
        .withColumn("requested_at", lit(0L))
        .withColumn("boundary", lit(0L)), t): Unit
  }

  /** [[add]] across every index dir a corpus serves from — the takedown
    * entry point: one call tombstones the document in the lexical,
    * semantic, and forward artifacts together. Dirs whose tombstone
    * table does not exist yet get one.
    */
  def addAll(docIds: DataFrame, indexDirs: Seq[String],
             reason: String = "unspecified",
             requestedAt: Long = 0L,
             boundary: Long = 0L): Unit = {
    // stage once: the same tiny list lands in every dir
    val staged = docIds.localCheckpoint(eager = false)
    indexDirs.foreach(d =>
      add(staged, d, reason, requestedAt, boundary): Unit)
  }

  /** The full audit trail — one row per (doc_id, reason, requested_at,
    * boundary) takedown event (re-adds of the same event collapse; the
    * same doc taken down under two requests keeps both rows — each
    * request needs its own erasure evidence). Empty relation when the
    * index has no tombstone table.
    */
  def audit(spark: SparkSession, indexDir: String): DataFrame = {
    val t = table(indexDir)
    if (!Versioned.exists(spark, t))
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit("").as("reason"),
          lit(0L).as("requested_at"), lit(0L).as("boundary")).limit(0)
    migrate(spark, t)
    Versioned.read(spark, t)
      .select(col("doc_id"), col("reason"), col("requested_at"),
        col("boundary")).distinct()
  }

  /** The current tombstone set (latest version — see retroactivity in
    * the object doc), or None when the index has none. Deduplicated:
    * re-adds and the append-only history collapse to one row per id.
    */
  def of(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val t = table(indexDir)
    if (!Versioned.exists(spark, t)) None
    else Some(Versioned.read(spark, t).select(col("doc_id")).distinct())
  }

  /** The distinct non-null tombstoned ids (latest version), read once per
    * tombstone-table version ([[Versioned.rows]]); empty when the index has
    * no tombstone table. A null id matches no row under the anti-join
    * semantics the gates keep, so it is dropped here.
    */
  private def ids(spark: SparkSession, indexDir: String): Seq[Any] = {
    val t = table(indexDir)
    if (!Versioned.exists(spark, t)) Nil
    else Versioned.rows(spark, t, None, Seq("doc_id"))
      .flatMap(r => Option(r.get(0))).distinct
  }

  /** Gate a candidate stream: drop rows whose document is tombstoned.
    * `docExpr` maps a row to its DOCUMENT id (identity for doc-grain
    * ids; `shiftright(ck, 32)` for chunk-grain composite keys). The
    * tombstone set is a plan literal (takedown-list-sized), so the gate
    * is a map-side filter on the already-pruned candidate scan — no
    * job, no shuffle, no broadcast. Same rows as a `left_anti` join on
    * `docExpr = doc_id`: a NULL key matches nothing and survives. No-op
    * (the exact input plan) when the index has no tombstones.
    */
  def gate(spark: SparkSession, indexDir: String, rows: DataFrame,
           docExpr: Column): DataFrame =
    ids(spark, indexDir) match {
      case Nil => rows
      case ts => rows.filter(docExpr.isNull || !docExpr.isInCollection(ts))
    }

  /** Retention-aligned tombstone VACUUM — the [[graft.operators
    * .Stamp.vacuum]] discipline applied to the gate
    * table itself: "never cleared" is correct only while some retained
    * version can still SERVE the doc; once the physical drop has
    * compacted through AND the data retention window has passed the
    * pre-drop snapshots, the tombstone row gates nothing — and on a
    * decade-long pipeline the accumulated takedown list itself becomes
    * a corpus-scale artifact riding every probe's plan.
    *
    * A row is dropped exactly when its doc appears in NO retained
    * version of the index's primary data table (presence over versions
    * is one contiguous interval — appended once, dropped once at a
    * compaction — but the interval can sit strictly INSIDE the
    * retention window, so every retained version is checked, as a
    * column-pruned id scan each). Rows still serving anywhere in the
    * window stay, so pinned `asOf` reads of any retained version stay
    * gated. Audit note: the erasure evidence for vacuumed rows lives
    * in the takedown history the deployment exports BEFORE the
    * retention floor passes ([[audit]] at any earlier time) — the gate
    * table needs only the rows that still gate.
    *
    * Call AFTER `Versioned.vacuum(dataTable, retainVersions)` with the
    * same retention (the daily vacuum stage's order), so "retained"
    * means the versions whose files survive. Returns the committed
    * version, or None when nothing dropped (no table / all rows still
    * serving).
    */
  def vacuum(spark: SparkSession, indexDir: String,
             retainVersions: Int): Option[Long] = {
    val t = table(indexDir)
    if (!Versioned.exists(spark, t)) return None
    val dataT = Seq("postings", "assignment", "fwd")
      .map(n => s"$indexDir/$n").find(Versioned.exists(spark, _))
      .getOrElse(return None)
    val latest = Versioned.latestVersion(spark, dataT)
    val floor = math.max(0L, latest - math.max(1, retainVersions) + 1)
    val keyCol = if (dataT.endsWith("assignment")) "cand_id" else "doc_id"
    val served = (floor to latest).map(v =>
        Versioned.read(spark, dataT, Some(v))
          .select(Retrieval.docKeyExpr(spark, indexDir, col(keyCol))
            .as("doc_id")))
      .reduce(_ unionByName _).distinct()
    migrate(spark, t)
    val cur = Versioned.read(spark, t)
    val kept = cur.join(served, Seq("doc_id"), "left_semi")
      .localCheckpoint(eager = false) // feeds the count AND the rewrite
    // bounded control reads: the tombstone table is takedown-list-sized
    if (kept.count() == cur.count()) None
    else Some(Versioned.overwrite(kept, t))
  }

  /** The rows of `df` whose document IS tombstoned — the drop set a
    * compaction removes (semi form of [[gate]]: its exact complement).
    * Empty when no tombstones exist.
    */
  def hits(spark: SparkSession, indexDir: String, rows: DataFrame,
           docExpr: Column): DataFrame =
    ids(spark, indexDir) match {
      case Nil => rows.limit(0)
      case ts => rows.filter(docExpr.isInCollection(ts))
    }
}
