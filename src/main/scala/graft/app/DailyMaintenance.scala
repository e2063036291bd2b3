package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Corpus, Retrieval, Similarity, Stamp,
  Tombstones}
import graft.sources.Versioned

/** The COMPOSED daily maintenance job (SURVEY §8, round 10) — the full
  * documented daily cadence in one [[Scheduler.tickStages]] chain,
  * where the reference's Airflow DAG ticks a single notebook
  * (reference 0affc6b7559b_dag.py:28-41). Each day's document/vector
  * batch flows through every state artifact the engine maintains:
  *
  *  1. `curate`        — incremental curation state
  *                       ([[Curation.curateBatch]]: candidates + pairs)
  *  2. `signal_state`  — the frozen doc-signal lookup tables
  *                       (build day 0, [[Corpus.appendSignalState]] after)
  *  3. `bm25_append`   — the lexical inverted index (build day 0,
  *                       FAISS-add appends after)
  *  4. `chunk_append`  — the chunk-grain (RAG) index, same cadence;
  *                       appends derive the window grid from the
  *                       index's own sidecar
  *  5. `ivf_append`    — the ANN index (same cadence)
  *  5b. `bpe_retrain`/`nb_retrain` — model maintenance on the LONGER
  *                       `retrainEvery` cadence: fresh lockstep model
  *                       versions; pinned `modelAsOf` consumers
  *                       reproduce bit-for-bit across a retrain
  *  6. `bm25_compact`/`chunk_compact`/`ivf_compact` — when
  *                       `compactEvery` appended batches have
  *                       accumulated since the last overwrite:
  *                       re-establish the declared bucketed layout in
  *                       version lockstep (the Delta OPTIMIZE cadence;
  *                       between firings, reads run demoted to plain
  *                       files — slower, correct, bounded debt)
  *  7. `vacuum`        — drop data files referenced by no retained
  *                       version on EVERY maintained table
  *
  * A stage failure stops the chain (remaining stages skip — Airflow's
  * upstream_failed) and leaves the boundary uncovered; the next tick
  * RESUMES it — even after later intervals elapse (started-but-
  * uncovered boundaries take priority over new ones), and because the
  * batch is addressed BY BOUNDARY (`batchFor`/`vecsFor`), the resumed
  * stages process the failed day's data, not whichever day is current.
  * Stages with an ok row for the boundary are skipped, so an
  * append-only stage (signal counts, index postings) does not re-apply
  * its batch — except in the narrow window where a crash landed
  * between a stage's artifact commit and its history row
  * ([[Scheduler.tickStagesFor]] documents it); the failed stage itself
  * re-runs against state its own crash may have half-committed (each
  * artifact's own heal/lockstep contract covers that case).
  *
  * Scale shape: each stage is batch-sized work against
  * vocabulary/index-bounded state — nothing rescans the accumulated
  * corpus; compaction rewrites one snapshot; vacuum is file-metadata
  * work. The history table records every (stage, attempt) so the
  * crash/retry trail is queryable data.
  */
object DailyMaintenance {

  /** Every Versioned table the daily job maintains, relative to the
    * work dir — the vacuum stage's worklist. Includes the scheduler's
    * own runs/claims tables (they accrue one tiny commit per
    * (stage, attempt) / per tick forever otherwise) and the model
    * artifacts the retrain stages version.
    */
  def maintainedTables(work: String): Seq[String] = Seq(
    s"$work/state/candidates", s"$work/state/pairs",
    s"$work/signals/nd", s"$work/signals/c1",
    s"$work/signals/c12", s"$work/signals/vsz",
    s"$work/signals/dels",
    s"$work/bm25/postings", s"$work/bm25/stats",
    s"$work/chunks/postings", s"$work/chunks/stats",
    s"$work/ivf/centroids", s"$work/ivf/assignment",
    s"$work/chunk_ivf/centroids", s"$work/chunk_ivf/assignment",
    s"$work/chunk_pq/centroids", s"$work/chunk_pq/codebook",
    s"$work/chunk_pq/assignment", s"$work/chunk_pq/vectors",
    s"$work/fwd/fwd",
    s"$work/bpe_model/merges", s"$work/bpe_model/vocab",
    s"$work/nb_model/model", s"$work/nb_model/priors",
    s"$work/lineage",
    s"$work/runs", s"$work/claims") ++
    indexDirs(work).map(d => s"$d/${Tombstones.TableName}")

  /** The index dirs a takedown must reach — every artifact that can
    * serve (or mount) a document. */
  private def indexDirs(work: String): Seq[String] =
    Seq("bm25", "chunks", "ivf", "chunk_ivf", "chunk_pq", "fwd")
      .map(d => s"$work/$d")

  /** Append commits sitting on top of `table`'s last overwrite — the
    * compaction trigger. "Latest action is an append" is NOT a usable
    * condition here: the daily append stage always leaves it true, so
    * gating on it would full-rewrite every index every tick — a daily
    * rebuild dressed up as an optimization. Instead compaction fires
    * when the small-file/demotion debt reaches `compactEvery` appended
    * batches (the OPTIMIZE-periodicity dial); between firings, reads
    * run demoted to plain files — slower, correct, and bounded.
    */
  private def appendDebt(spark: SparkSession, table: String): Int =
    if (!Versioned.exists(spark, table)) 0
    else Versioned.history(spark, table).reverse
      .takeWhile(_._2 == "append").size

  /** True when a BM25-family index pair is wedged between its two
    * commits — stats missing after a crashed build, or versions out of
    * lockstep after a crashed append/compaction. The shapes
    * [[graft.operators.Retrieval.repairBm25Index]] heals.
    */
  private def bm25PairBroken(spark: SparkSession, indexDir: String): Boolean =
    !Versioned.exists(spark, s"$indexDir/stats") ||
      Versioned.latestVersion(spark, s"$indexDir/postings") !=
        Versioned.latestVersion(spark, s"$indexDir/stats")

  /** True when an IVF-family index's lockstep tables have diverged —
    * the shapes [[graft.operators.Similarity.repairIvfIndex]] heals
    * (a crashed append, or a compaction that died between its
    * per-table commits).
    */
  private def ivfTablesBroken(spark: SparkSession, indexDir: String): Boolean =
    Seq("vectors", "centroids", "codebook", "assignment")
      .filter(t => Versioned.exists(spark, s"$indexDir/$t"))
      .map(t => Versioned.latestVersion(spark, s"$indexDir/$t"))
      .distinct.size > 1

  /** True iff `batch`'s documents are already present in the index's
    * postings head — the disambiguator between the two broken-pair
    * shapes [[graft.operators.Retrieval.repairBm25Index]] heals: a
    * crashed APPEND's orphan postings ARE this boundary's batch (the
    * repair completed it — appending again would land it twice), while
    * a crashed COMPACTION from a prior boundary repairs with an EMPTY
    * delta and this boundary's batch still needs its append. Presence
    * is all-or-nothing (a batch's postings land in ONE commit), so a
    * PARTIAL presence is a foreign write and refuses loudly rather
    * than guessing. Chunk-grain postings key by the composite ck —
    * doc membership decodes from its high 32 bits. An empty batch
    * counts as landed (nothing to append).
    */
  private def batchLanded(spark: SparkSession, batch: DataFrame,
                          indexDir: String,
                          chunkGrain: Boolean): Boolean = {
    val ids = batch.select(col("doc_id")).distinct()
    val posted = Versioned.read(spark, s"$indexDir/postings")
    val postedIds =
      (if (chunkGrain) posted.select(shiftright(col("doc_id"), 32).as("doc_id"))
       else posted.select(col("doc_id"))).distinct()
    val present = ids.join(postedIds, Seq("doc_id"), "left_semi").count()
    val total = ids.count()
    require(present == 0L || present == total,
      s"$indexDir postings hold PART of this boundary's batch ($present " +
        s"of $total docs) — no append/compaction crash shape produces a " +
        "partial batch; investigate foreign writes before appending")
    total == 0L || present == total
  }

  /** [[batchLanded]] against an IVF-PQ index's full-precision vectors
    * table (the FIRST-committed table of its append, so membership
    * there means the repair completed the whole operation). Chunk-grain
    * vectors key by the composite ck — doc membership decodes from its
    * high 32 bits.
    */
  private def vectorsBatchLanded(spark: SparkSession, batch: DataFrame,
                                 indexDir: String,
                                 chunkGrain: Boolean): Boolean = {
    val ids = batch.select(col("doc_id")).distinct()
    val stored = Versioned.read(spark, s"$indexDir/vectors")
    val storedIds =
      (if (chunkGrain) stored.select(shiftright(col("cand_id"), 32).as("doc_id"))
       else stored.select(col("cand_id").as("doc_id"))).distinct()
    val present = ids.join(storedIds, Seq("doc_id"), "left_semi").count()
    val total = ids.count()
    require(present == 0L || present == total,
      s"$indexDir vectors hold PART of this boundary's batch ($present " +
        s"of $total docs) — no append/compaction crash shape produces a " +
        "partial batch; investigate foreign writes before appending")
    total == 0L || present == total
  }

  /** The day's stage list over a batch of documents (doc_id, text,
    * n_chars, …) and their embedding rows (id, vec). Build-or-append
    * decisions, demotion checks, and the vacuum worklist all evaluate
    * AT RUN TIME (inside the closures), so a stage retried after a
    * crash sees the current state, not the tick-construction snapshot.
    */
  def stages(spark: SparkSession, batch: DataFrame, vecs: DataFrame,
             work: String,
             retainVersions: Int = 2,
             compactEvery: Int = 7,
             boundary: Long = 0L,
             intervalMs: Long = 24L * 3600 * 1000,
             retrainEvery: Int = 7,
             stopMaxDfRatio: Option[Double] = None,
             takedown: Option[DataFrame] = None,
             supersede: Option[DataFrame] = None): Seq[(String, () => Unit)] = {
    // df-cap stop set for a ratio-opted pipeline: the FIRST build
    // derives it from its day's batch and records the ratio in the
    // stop_toks sidecar; appends inherit the frozen set through that
    // sidecar, and every compaction re-derives the set over the grown
    // corpus (compactBm25Index reads the recorded ratio) — so
    // boilerplate that emerges after day 1 gets capped on the compact
    // cadence. The collect is the documented bounded stop-token-list
    // exception (≤ 1/ratio tokens).
    def stopsOf(docs: DataFrame): Seq[String] = stopMaxDfRatio match {
      case Some(r) => Retrieval.heavyTokens(docs, col("doc_id"), col("text"), r)
        .select("tok").collect().map(_.getString(0)).toSeq
      case None => Nil
    }
    def chunkStopsOf(docs: DataFrame): Seq[String] = stopMaxDfRatio match {
      case Some(r) => Retrieval.heavyChunkTokens(docs, col("doc_id"),
          col("text"), size = 32, stride = 16, maxDfRatio = r)
        .select("tok").collect().map(_.getString(0)).toSeq
      case None => Nil
    }
    Seq(
    "curate" -> (() =>
      Curation.curateBatch(batch, s"$work/state"): Unit),
    "signal_state" -> (() => {
      if (!Versioned.exists(spark, s"$work/signals/nd"))
        Corpus.buildSignalState(batch, col("doc_id"), col("text"),
          s"$work/signals"): Unit
      else
        Corpus.appendSignalState(batch, col("doc_id"), col("text"),
          s"$work/signals"): Unit
    }),
    "bm25_append" -> (() => {
      if (!Versioned.exists(spark, s"$work/bm25/postings"))
        Retrieval.buildBm25Index(batch, col("doc_id"), col("text"),
          s"$work/bm25", stopTokens = stopsOf(batch),
          stopMaxDfRatio = stopMaxDfRatio): Unit
      // a build or append crashed between its postings and stats commits
      // (stats missing, or lockstep broken): repair restores lockstep —
      // but the broken pair is NOT always this boundary's crashed
      // append (a compaction that died between its two commits at a
      // PRIOR boundary leaves the same shape with an empty repair
      // delta), so verify the batch actually landed before skipping
      // the append: completed-append ⇒ landed ⇒ skip (appending again
      // would land it twice); healed-compaction ⇒ absent ⇒ append
      else if (bm25PairBroken(spark, s"$work/bm25")) {
        Retrieval.repairBm25Index(spark, s"$work/bm25"): Unit
        if (!batchLanded(spark, batch, s"$work/bm25", chunkGrain = false))
          Retrieval.appendToBm25Index(batch, col("doc_id"), col("text"),
            s"$work/bm25"): Unit
      }
      else
        Retrieval.appendToBm25Index(batch, col("doc_id"), col("text"),
          s"$work/bm25"): Unit
    }),
    "chunk_append" -> (() => {
      val postingsT = s"$work/chunks/postings"
      if (!Versioned.exists(spark, postingsT))
        // the chunk index is the LARGER postings artifact — the df cap
        // matters most exactly here; the chunk-grain stop set derives
        // from the day's CHUNKS (chunk df, not doc df)
        Retrieval.buildChunkBm25Index(batch, col("doc_id"), col("text"),
          s"$work/chunks", size = 32, stride = 16,
          stopTokens = chunkStopsOf(batch),
          stopMaxDfRatio = stopMaxDfRatio): Unit
      else {
        // heal a pair broken between its postings and stats commits
        // BEFORE routing: repair restores stats lockstep from the orphan
        // postings. Without it, (a) a crashed APPEND would make the
        // healthy-grid append below refuse forever, and (b) the
        // first-build rebuild would overwrite postings to v1 while
        // CREATING stats at v0, fail its own lockstep require, and wedge
        // the boundary behind the manual-rebuild error on the next tick.
        val broken = bm25PairBroken(spark, s"$work/chunks")
        if (broken) {
          Retrieval.repairBm25Index(spark, s"$work/chunks"): Unit
          // a healed compaction crash also left the grid stamp behind
          // the moved overwrite snapshot — recoverable when the rewrite
          // was provably pure (no-op otherwise)
          Retrieval.restampChunkGrid(spark, s"$work/chunks")
        }
        if (Retrieval.chunkGridHealthy(spark, s"$work/chunks")) {
          // the window grid comes from the index's own sidecar; a healed
          // crashed APPEND already holds this boundary's batch (skip),
          // while a healed prior-boundary COMPACTION crash repaired
          // with an empty delta and this batch still needs its append
          if (!broken || !batchLanded(spark, batch, s"$work/chunks",
              chunkGrain = true))
            Retrieval.appendToChunkBm25Index(batch, col("doc_id"),
              col("text"), s"$work/chunks"): Unit
        }
        else if (Versioned.history(spark, postingsT).forall(_._1 == 0L))
          // a FIRST build died between its index commit and the grid
          // stamp: the table holds exactly this boundary's batch (resume
          // re-runs the same boundary), so rebuilding from the batch is
          // LOSSLESS — the self-heal the build path owns. Any later
          // grid corruption falls through to the loud error below:
          // rebuilding a multi-day index from one day's batch would
          // silently discard every prior day.
          Retrieval.buildChunkBm25Index(batch, col("doc_id"), col("text"),
            s"$work/chunks", size = 32, stride = 16,
            stopTokens = chunkStopsOf(batch),
            stopMaxDfRatio = stopMaxDfRatio): Unit
        else sys.error(s"$work/chunks grid sidecar is untrusted and the " +
          "postings hold more than the first build — rebuild the chunk " +
          "index manually from the full corpus (a one-batch rebuild here " +
          "would silently drop prior days)")
      }
    }),
    "ivf_append" -> (() => {
      if (!Versioned.exists(spark, s"$work/ivf/centroids"))
        Similarity.buildIvfIndex(vecs, s"$work/ivf"): Unit
      else {
        // a float-IVF repair restores the PRE-append state (the batch's
        // assignment rows died with the crash — nothing of it landed),
        // so after a repair the batch always still needs its append
        if (ivfTablesBroken(spark, s"$work/ivf"))
          Similarity.repairIvfIndex(spark, s"$work/ivf"): Unit
        Similarity.appendToIvfIndex(vecs, s"$work/ivf"): Unit
      }
    }),
    // the chunk ANN index — the semantic half of the chunk-grain hybrid
    // pair the RAG stack serves ([[graft.operators.Retrieval.hybrid]]
    // needs BOTH chunk indexes on the SAME grid);
    // same grid-health routing and first-build self-heal as chunk_append
    "chunk_ivf_append" -> (() => {
      val dir = s"$work/chunk_ivf"
      if (!Versioned.exists(spark, s"$dir/centroids"))
        Retrieval.buildChunkIvfIndex(batch, col("doc_id"), col("text"),
          dir, size = 32, stride = 16): Unit
      else {
        // float repair = catch-up to the pre-append state (see
        // ivf_append): after it the batch always still needs its append
        if (ivfTablesBroken(spark, dir)) {
          Similarity.repairIvfIndex(spark, dir): Unit
          Retrieval.restampChunkGrid(spark, dir, stampTable = "assignment")
        }
        if (Retrieval.chunkGridHealthy(spark, dir,
            stampTable = "assignment"))
          Retrieval.appendToChunkIvfIndex(batch, col("doc_id"), col("text"),
            dir): Unit
        else if (Versioned.history(spark, s"$dir/assignment")
            .forall(_._1 == 0L))
          Retrieval.buildChunkIvfIndex(batch, col("doc_id"), col("text"),
            dir, size = 32, stride = 16): Unit
        else sys.error(s"$dir grid sidecar is untrusted and the assignment " +
          "holds more than the first build — rebuild the chunk ANN index " +
          "manually from the full corpus")
      }
    }),
    // the doc-keyed FORWARD index — the serve-path artifact the RAG
    // stack reads BY DOCUMENT (context clip lengths, span-text slices,
    // RM3 feedback mining): build day 0, appends derive the shard
    // modulus from the index's own sidecar
    "fwd_append" -> (() => {
      if (!Versioned.exists(spark, s"$work/fwd/fwd"))
        Retrieval.buildForwardIndex(batch, col("doc_id"), col("text"),
          s"$work/fwd"): Unit
      else {
        // a compaction that died between its overwrite and the sidecar
        // re-stamp leaves doc_parts stale and the append refusing with a
        // rebuild message — the modulus is data-verifiable, so heal it
        // here instead of wedging the daily cadence (no-op when trusted)
        Retrieval.repairForwardIndex(spark, s"$work/fwd")
        Retrieval.appendToForwardIndex(batch, col("doc_id"), col("text"),
          s"$work/fwd"): Unit
      }
    }),
    // the COMPRESSED chunk ANN index (IVF-PQ + rerank — the semantic arm
    // a chunk-grain hybrid request serves at 100 TB, where the chunk-grain
    // vector table is the largest vector artifact in the system): same
    // grid-health routing and first-build self-heal as chunk_ivf_append
    "chunk_pq_append" -> (() => {
      val dir = s"$work/chunk_pq"
      if (!Versioned.exists(spark, s"$dir/centroids"))
        Retrieval.buildChunkIvfPqIndex(batch, col("doc_id"), col("text"),
          dir, size = 32, stride = 16): Unit
      else {
        // the PQ repair COMPLETES a crashed append from the orphan
        // full-precision vectors slice (vectors commit first) — so a
        // healed append already holds this boundary's batch, while a
        // healed compaction crash repaired with an empty delta and the
        // batch still needs its append: the vectors-membership check
        // disambiguates, exactly like batchLanded on the lexical side
        val broken = ivfTablesBroken(spark, dir)
        if (broken) {
          Similarity.repairIvfIndex(spark, dir): Unit
          Retrieval.restampChunkGrid(spark, dir, stampTable = "assignment")
        }
        if (Retrieval.chunkGridHealthy(spark, dir,
            stampTable = "assignment")) {
          if (!broken || !vectorsBatchLanded(spark, batch, dir,
              chunkGrain = true))
            Retrieval.appendToChunkIvfPqIndex(batch, col("doc_id"),
              col("text"), dir): Unit
        }
        else if (Versioned.history(spark, s"$dir/assignment")
            .forall(_._1 == 0L))
          Retrieval.buildChunkIvfPqIndex(batch, col("doc_id"), col("text"),
            dir, size = 32, stride = 16): Unit
        else sys.error(s"$dir grid sidecar is untrusted and the assignment " +
          "holds more than the first build — rebuild the chunk PQ index " +
          "manually from the full corpus")
      }
    }),
    // SUPERSEDE — the day's recrawl list: (old_id, new_id) pairs whose
    // NEW documents rode this boundary's batch through every append
    // stage above; the stage swaps the predecessors out atomically at
    // boundary grain ([[graft.operators.Supersede]] — tombstone v1
    // everywhere, subtract its signal counts exactly-once, drop its
    // curation rows/edges, record lineage). Runs BEFORE takedown (a
    // doc both superseded and taken down the same day ends gated
    // either way) and before the compact stages (the predecessors'
    // text must still be physically readable for the signal
    // subtraction on a retry).
    "supersede" -> (() => supersede.foreach { up =>
      if (!up.isEmpty) { // bounded: recrawl lists are batch-sized
        val live = indexDirs(work).filter(d =>
          Versioned.exists(spark, s"$d/postings") ||
            Versioned.exists(spark, s"$d/assignment") ||
            Versioned.exists(spark, s"$d/fwd"))
        graft.operators.Supersede.supersede(spark, up, work, boundary,
          live): Unit
      }
    }),
    // TAKEDOWN — the day's deletion list (opt-outs, DMCA, discovered
    // contamination): tombstone the documents in every serving artifact
    // (gates stop serving them at the next probe — [[Tombstones]]) and
    // subtract their counts from the signal state. The physical drop
    // + stats correction rides the compact stages below on their own
    // cadence. Idempotence: tombstone re-adds are harmless (anti-join
    // gate); the signal-state delete names its deletion batch
    // (`takedown:<boundary>`), so a stage retry — whether a later
    // sub-step failed THIS attempt or a crash landed between the
    // stage's commits and its history row — detects the prior commit
    // through the dels claim table and skips re-subtracting (the
    // underflow guard alone cannot catch a double-subtract whose
    // shared totals stay positive).
    "takedown" -> (() => takedown.foreach { td =>
      if (!td.isEmpty) { // bounded: takedown lists are tiny by nature
        val live = indexDirs(work).filter(d =>
          Versioned.exists(spark, s"$d/postings") ||
            Versioned.exists(spark, s"$d/assignment") ||
            Versioned.exists(spark, s"$d/fwd"))
        // audit provenance rides the gate table: row-level
        // reason/requested_at when the takedown feed carries them,
        // with the gate-effective boundary stamped here
        val auditCols = Seq("reason", "requested_at")
          .filter(td.columns.contains).map(col)
        Tombstones.addAll(td.select((col("doc_id") +: auditCols): _*),
          live, reason = "takedown", requestedAt = boundary,
          boundary = boundary)
        if (Versioned.exists(spark, s"$work/signals/nd"))
          Corpus.deleteFromSignalState(td, col("doc_id"), col("text"),
            s"$work/signals",
            batchId = Some(s"takedown:$boundary")): Unit
        // the curation state persists doc-derived data (norm_fp + the
        // shingle-hash set) — drop it too; idempotent, and re-firing
        // every boundary also completes a previously-crashed drop
        Curation.deleteFromState(spark, s"$work/state",
          td.select(col("doc_id"))): Unit
      }
    }),
    // model maintenance — the LONGER cadence (every `retrainEvery`
    // boundaries, day 0 included): retrain the BPE tokenizer and the NB
    // gate the pipeline serves. Each retrain is a fresh lockstep
    // OVERWRITE version; consumers that pinned `modelAsOf` reproduce
    // bit-for-bit across it (SchedulerSpec proves an old pinned encode
    // survives a retrain unchanged). Between firings the stage is a
    // no-op. Day index = boundary / interval, so a resumed boundary
    // makes the same decision it would have made on time.
    "bpe_retrain" -> (() => {
      val due = (boundary / intervalMs) % retrainEvery == 0
      if (due || !Versioned.exists(spark, s"$work/bpe_model/merges"))
        graft.operators.Bpe.buildBpeModel(batch, col("text"), k = 40,
          s"$work/bpe_model"): Unit
    }),
    "nb_retrain" -> (() => {
      val due = (boundary / intervalMs) % retrainEvery == 0
      if (due || !Versioned.exists(spark, s"$work/nb_model/model"))
        Corpus.buildNbModel(batch, col("lang"), col("text"),
          s"$work/nb_model"): Unit
    }),
    // INDEX rebuild on the SAME retrainEvery cadence (an index whose
    // history is still the fresh build — version 0, no appends — skips:
    // rebuilding it would re-train from the exact distribution it was
    // just trained on; the version gate is data-verified, where the old
    // `boundary > 0` literal only excluded the epoch-zero boundary and
    // immediately re-built a day-0 index on any pipeline whose first
    // absolute day index happened to hit the cadence): IVF centroids
    // and PQ codebooks freeze
    // at build, FAISS-add appends degrade recall as the corpus drifts
    // from the training distribution, and nothing turned the documented
    // "rebuild dial" until this stage. Each rebuild re-trains from the
    // index's OWN tables (float: assignment carries cv; PQ: the
    // full-precision vectors table) — a fresh lockstep overwrite
    // version; pinned consumers keep their epoch via the sidecar
    // history; pending tombstones drop in the rewrite. A broken pair is
    // repaired first when repair applies (a crashed APPEND — completing
    // it keeps the batch); a repair REFUSAL is the crashed-REBUILD
    // shape, which the rebuild itself heals via version padding, so it
    // is tolerated rather than wedging the cadence.
    "ivf_rebuild" -> (() => {
      val due = (boundary / intervalMs) % retrainEvery == 0 &&
        Versioned.exists(spark, s"$work/ivf/centroids") &&
        Versioned.latestVersion(spark, s"$work/ivf/assignment") > 0
      if (due) {
        if (ivfTablesBroken(spark, s"$work/ivf"))
          try Similarity.repairIvfIndex(spark, s"$work/ivf"): Unit
          catch { case _: Exception => () }
        Similarity.rebuildIvfIndex(spark, s"$work/ivf"): Unit
      }
    }),
    "chunk_ivf_rebuild" -> (() => {
      val due = (boundary / intervalMs) % retrainEvery == 0 &&
        Versioned.exists(spark, s"$work/chunk_ivf/centroids") &&
        Versioned.latestVersion(spark, s"$work/chunk_ivf/assignment") > 0
      if (due) {
        if (ivfTablesBroken(spark, s"$work/chunk_ivf"))
          try Similarity.repairIvfIndex(spark, s"$work/chunk_ivf"): Unit
          catch { case _: Exception => () }
        Retrieval.rebuildChunkIvfIndex(spark, s"$work/chunk_ivf"): Unit
      }
    }),
    "chunk_pq_rebuild" -> (() => {
      val due = (boundary / intervalMs) % retrainEvery == 0 &&
        Versioned.exists(spark, s"$work/chunk_pq/centroids") &&
        Versioned.latestVersion(spark, s"$work/chunk_pq/assignment") > 0
      if (due) {
        // the PQ repair COMPLETES a crashed append from the orphan
        // vectors slice — run it first so a rebuild never sources a
        // snapshot that silently drops the batch
        if (ivfTablesBroken(spark, s"$work/chunk_pq"))
          try Similarity.repairIvfIndex(spark, s"$work/chunk_pq"): Unit
          catch { case _: Exception => () }
        Retrieval.rebuildChunkIvfPqIndex(spark, s"$work/chunk_pq"): Unit
      }
    }),
    // Each compact stage HEALS its own crash shape first: a compaction
    // that died between its per-table commits leaves the lockstep
    // broken with appendDebt 0 (the first table's overwrite landed), so
    // a resumed stage would otherwise no-op, cover the boundary with a
    // wedged index, and leave the NEXT boundary's append stage to
    // misread the shape as its own crashed append (the r12 silent-loss
    // finding). Repair-then-debt-check makes the compaction crash heal
    // AT ITS OWN BOUNDARY.
    "bm25_compact" -> (() => {
      if (bm25PairBroken(spark, s"$work/bm25"))
        Retrieval.repairBm25Index(spark, s"$work/bm25"): Unit
      if (appendDebt(spark, s"$work/bm25/postings") >= compactEvery)
        Retrieval.compactBm25Index(spark, s"$work/bm25"): Unit
    }),
    "chunk_compact" -> (() => {
      if (bm25PairBroken(spark, s"$work/chunks"))
        Retrieval.repairBm25Index(spark, s"$work/chunks"): Unit
      // covers BOTH stale-grid shapes: pair healed above (crash between
      // the two table compacts) and a crash after both compacts but
      // before the grid re-stamp (no-op when the grid is trusted)
      Retrieval.restampChunkGrid(spark, s"$work/chunks")
      if (appendDebt(spark, s"$work/chunks/postings") >= compactEvery)
        // the chunk compactor also re-stamps the grid sidecar
        Retrieval.compactChunkBm25Index(spark, s"$work/chunks"): Unit
    }),
    "ivf_compact" -> (() => {
      if (ivfTablesBroken(spark, s"$work/ivf"))
        Similarity.repairIvfIndex(spark, s"$work/ivf"): Unit
      if (appendDebt(spark, s"$work/ivf/assignment") >= compactEvery)
        Similarity.compactIvfIndex(spark, s"$work/ivf"): Unit
    }),
    "chunk_ivf_compact" -> (() => {
      if (ivfTablesBroken(spark, s"$work/chunk_ivf"))
        Similarity.repairIvfIndex(spark, s"$work/chunk_ivf"): Unit
      Retrieval.restampChunkGrid(spark, s"$work/chunk_ivf",
        stampTable = "assignment")
      if (appendDebt(spark, s"$work/chunk_ivf/assignment") >= compactEvery)
        // re-stamps the grid sidecar at the new overwrite version
        Retrieval.compactChunkIvfIndex(spark, s"$work/chunk_ivf"): Unit
    }),
    "chunk_pq_compact" -> (() => {
      if (ivfTablesBroken(spark, s"$work/chunk_pq"))
        Similarity.repairIvfIndex(spark, s"$work/chunk_pq"): Unit
      Retrieval.restampChunkGrid(spark, s"$work/chunk_pq",
        stampTable = "assignment")
      if (appendDebt(spark, s"$work/chunk_pq/assignment") >= compactEvery)
        // compacts all lockstep tables + re-stamps the grid
        Retrieval.compactChunkIvfIndex(spark, s"$work/chunk_pq"): Unit
    }),
    "fwd_compact" -> (() => {
      // heal a stale doc_parts stamp (a compaction that died between
      // its overwrite and the re-stamp) before the debt check — the
      // compactor read-validates the modulus BEFORE rewriting, so an
      // unhealed stale stamp would compact without ever re-stamping
      Retrieval.repairForwardIndex(spark, s"$work/fwd")
      if (appendDebt(spark, s"$work/fwd/fwd") >= compactEvery)
        // re-merges per-append files and re-stamps the doc_parts sidecar
        Retrieval.compactForwardIndex(spark, s"$work/fwd"): Unit
    }),
    "vacuum" -> (() => {
      // the scheduler's own history accrues one tiny append per
      // (stage, attempt): compact it on the index cadence so boundary
      // selection reads stay bounded for a long-lived deployment
      // (claims is a 1-row overwrite table — vacuum alone bounds it)
      if (appendDebt(spark, s"$work/runs") >= compactEvery)
        Versioned.compact(spark, s"$work/runs"): Unit
      maintainedTables(work)
        .filter(Versioned.exists(spark, _))
        .foreach(t => Versioned.vacuum(spark, t, retainVersions): Unit)
      // bound the per-epoch sidecar/marker history files with the same
      // retention as the data they describe (a pin past the vacuum
      // horizon can no longer read data, so its epoch record is dead)
      indexDirs(work).foreach(d =>
        Stamp.vacuum(spark, d, retainVersions): Unit)
      // and the tombstone gate tables: rows no retained version can
      // serve gate nothing — without this the takedown list itself
      // grows corpus-scale on a long-lived pipeline ([[Tombstones
      // .vacuum]]; runs AFTER the data vacuum above so "retained"
      // matches the versions whose files survive)
      indexDirs(work).foreach(d =>
        Tombstones.vacuum(spark, d, retainVersions): Unit)
    }))
  }

  /** One daily tick of the composed job. `batchFor`/`vecsFor` map a
    * boundary (the data interval's start, epoch ms) to that day's
    * document/vector batch — the boundary addressing that makes a
    * resumed older boundary process ITS day's data. Returns per-stage
    * attempts (empty = nothing due).
    */
  def tick(spark: SparkSession, work: String,
           batchFor: Long => DataFrame, vecsFor: Long => DataFrame,
           nowMs: Long,
           intervalMs: Long = 24L * 3600 * 1000, retries: Int = 2,
           retryDelayMs: Long = 120000L,
           sleep: Long => Unit = Thread.sleep,
           compactEvery: Int = 7,
           retainVersions: Int = 2,
           retrainEvery: Int = 7,
           stopMaxDfRatio: Option[Double] = None,
           takedownFor: Long => Option[DataFrame] = _ => None,
           supersedeFor: Long => Option[DataFrame] = _ => None)
      : Seq[(String, Seq[Scheduler.Attempt])] =
    Scheduler.tickStagesFor(spark, work,
      b => stages(spark, batchFor(b), vecsFor(b), work,
        retainVersions = retainVersions, compactEvery = compactEvery,
        boundary = b, intervalMs = intervalMs, retrainEvery = retrainEvery,
        stopMaxDfRatio = stopMaxDfRatio, takedown = takedownFor(b),
        supersede = supersedeFor(b)),
      nowMs, intervalMs, retries, retryDelayMs, sleep)

  /** Real-clock entry point, one tick over an sf-dir batch.
    * Usage: tools/run.sh graft.app.DailyMaintenance [sfDir] [workDir]
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse("/tmp/graft_daily")
    val spark = graft.LocalSession()
    val docs = graft.Tables.documents(spark, sfDir)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // the sf-dir fixture has no per-day partitions: every boundary maps
    // to the full table (a deployment maps b to its date partition)
    val res = tick(spark, workDir, _ => docs, _ => vecs,
      nowMs = System.currentTimeMillis())
    if (res.isEmpty) println("[daily] nothing due")
    else res.foreach { case (s, a) =>
      println(s"[daily] $s: ${a.size} attempt(s), ok=${a.last.ok}") }
    spark.stop()
  }
}
