package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Versioned
import Stage.StagedOps

/** INCREMENTAL corpus curation — the daily-cadence form of the q110
  * curation funnel (the reference runs its pipeline on a daily Airflow
  * schedule, 0affc6b7559b_dag.py:30): curate ONLY an appended batch
  * against accumulated state instead of re-curating the full corpus.
  * At 100 TB the difference is the whole game — a daily batch is ~0.1%
  * of the corpus, and every stage here touches O(batch) new text, never
  * O(corpus):
  *
  *  - row-local filters (language / quality / repetition) are per-doc →
  *    evaluated on the batch only;
  *  - exact dedup: batch docs whose normalized text already has a
  *    keeper in state are dropped by an anti-join on the norm key —
  *    the accumulated corpus is never re-normalized;
  *  - near-dup: pairs WITHIN the batch (self-join) plus batch×state
  *    pairs ([[NearDup.ngramJaccardPairsAcrossHashed]]) — never
  *    state×state, whose pairs are already in the accumulated pair
  *    table, and never a re-shingle of state: candidates persist their
  *    DISTINCT SHINGLE HASHES (8-byte longs, the same hash space the
  *    pair join keys on), so each batch joins against stored keys
  *    instead of re-tokenizing/re-hashing the historical corpus text.
  *
  * State = two [[Versioned]] tables under `stateDir`, one commit EACH
  * per batch (versions stay in lockstep, so `asOf = n` reproduces the
  * state after batch n — the audit/rollback story for a daily feed):
  *
  *   candidates/  (doc_id, norm_fp, sh) — docs surviving stages f1–f4
  *                (the near-dup candidate set; includes docs later
  *                dropped by clustering, because FUTURE batches must
  *                pair against them exactly as a full recompute would).
  *                norm_fp is the md5 FINGERPRINT of the normalized
  *                text, not the text: state carries 16 bytes per doc
  *                for the exact-dedup key instead of re-storing the
  *                corpus (collision odds 2⁻⁶⁴-scale — the same
  *                convention as the shingle-hash join);
  *   pairs/       (doc_a, doc_b) — accumulated near-dup pairs (jaccard
  *                ≥ `minJaccard`) among candidates.
  *
  * Survivors are DERIVED ([[survivors]]): connected components over the
  * accumulated pair graph, drop non-component-min, stamp the
  * deterministic train split. The CC runs over the pair graph only
  * (near-dup pairs, orders of magnitude smaller than the corpus).
  *
  * EQUIVALENCE INVARIANT (spec-proven in CurationSpec): incremental
  * curation over batches b1..bn ≡ [[fullCurate]] over b1 ∪ … ∪ bn,
  * PROVIDED doc ids are monotone across batches (append-only ingestion
  * ids) — the exact-dedup keeper (min id per norm) then never moves
  * once chosen, so state never needs retraction at the norm stage.
  * Near-dup clustering needs no such guard: the pair set decomposes
  * exactly (a pair depends only on its two texts), and CC runs on the
  * complete accumulated graph, so a new doc bridging two old clusters
  * merges them — and may retroactively drop an old survivor — exactly
  * as the full recompute does.
  */
object Curation {

  /** Stage thresholds, shared by the incremental and one-shot paths
    * (and mirrored by q110's oracle SQL).
    */
  val minQuality = 0.4
  val minJaccard = 0.6
  val trainPct = 90

  /** The curation state: candidates, then pairs, one commit each per
    * batch. */
  val State: Versioned.Artifact = Versioned.Artifact("curation state",
    Seq("candidates", "pairs"), "rerun curateBatch (its heal completes a " +
      "crashed batch's pairs)")

  private def candTable(stateDir: String) = s"$stateDir/${State.tables(0)}"
  private def pairTable(stateDir: String) = s"$stateDir/${State.tables(1)}"

  /** Row-local stages f1–f3 (language-ID, quality score, repetition
    * rules) — per-doc predicates, no cross-doc state. Output:
    * (doc_id, text, norm_fp) for the survivors.
    */
  private[graft] def rowLocal(docs: DataFrame): DataFrame = {
    // staged (r18, guide §1.2): the filtered batch feeds BOTH the
    // repetition-stats branch and the join's probe side — unstaged,
    // the langId/quality token passes run twice over the batch
    val base = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .filter(TextOps.langId(col("text")) === "en")
      .filter(TextOps.qualityScore(col("text"), col("n_chars")) >= minQuality)
      .staged
    val keepRep = Corpus.repetitionStats(base, col("doc_id"), col("text"))
      .filter(!Corpus.isRepetitive(col("distinct_ratio"),
        col("top_token_frac"), col("top_bigram_frac")))
      .select(col("doc_id"))
    base.join(keepRep, Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        md5(TextOps.normalized(col("text"))).as("norm_fp"))
  }

  /** Exact-dedup keepers within `f3`: min doc_id per normalized-text
    * fingerprint, carrying the keeper's text.
    */
  private def exactKeepers(f3: DataFrame): DataFrame =
    Ranking.topPerGroup(f3, Seq(col("norm_fp")), Seq(col("doc_id").asc), 1)

  /** The pairs a candidate batch contributes: within-batch near-dups
    * plus batch×state near-dups. Both sides arrive PRE-SHINGLED as
    * (id, sh). The self-application emits each unordered pair once per
    * direction (both normalize to the same (min, max) row) →
    * dropDuplicates.
    */
  private def newPairsFor(batchSh: DataFrame,
                          stateSh: Option[DataFrame]): DataFrame = {
    val within = NearDup.ngramJaccardPairsAcrossHashed(batchSh, batchSh)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    stateSh.fold(within)(st => within.unionByName(
      NearDup.ngramJaccardPairsAcrossHashed(batchSh, st)
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"))))
  }

  /** Read-repair for a crash between the two state commits (state is
    * SINGLE-WRITER, like any daily pipeline): if candidates is one
    * version ahead of pairs, the orphan batch's shingles are already IN
    * the candidates table, so its missing pair version is recomputed
    * from state alone — no replay of the batch source needed. Any other
    * divergence is unrecoverable and throws.
    */
  private def heal(spark: SparkSession, stateDir: String): Unit = {
    if (!Versioned.exists(spark, candTable(stateDir))) return
    val vc = Versioned.latestVersion(spark, candTable(stateDir))
    val vp = if (Versioned.exists(spark, pairTable(stateDir)))
      Versioned.latestVersion(spark, pairTable(stateDir)) else -1L
    if (vc == vp) return
    require(vc == vp + 1,
      s"curation state unrecoverable: candidates v$vc vs pairs v$vp")
    val all = Versioned.read(spark, candTable(stateDir))
    val prev = if (vp >= 0)
      Some(Versioned.read(spark, candTable(stateDir), Some(vp))) else None
    val orphan = prev.fold(all)(p =>
        all.join(p.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      .select(col("doc_id").as("id"), col("sh"))
      .staged
    Versioned.append(
      newPairsFor(orphan, prev.map(_.select(col("doc_id").as("id"), col("sh")))),
      pairTable(stateDir)): Unit
  }

  /** Curate one appended batch against the accumulated state and commit
    * the new candidates + pairs (one Versioned version each). Returns
    * the committed state version (= number of batches ingested − 1).
    * Self-healing: a previous crash between the two commits is repaired
    * ([[heal]]) before the batch is processed.
    */
  def curateBatch(batch: DataFrame, stateDir: String): Long = {
    val spark = batch.sparkSession
    heal(spark, stateDir)
    val f3 = rowLocal(batch)
    val inBatch = exactKeepers(f3)
    val hasState = Versioned.exists(spark, candTable(stateDir))
    val f4Batch =
      if (!hasState) inBatch
      else inBatch.join(
        Versioned.read(spark, candTable(stateDir)).select(col("norm_fp")),
        Seq("norm_fp"), "left_anti")
    // Stage the batch candidates once — WITH their shingle hashes: the
    // batch text is tokenized/hashed exactly once here, then the staged
    // rows feed the within-batch self-join, the across join, and the
    // state commit (text itself never enters state).
    val f4B = f4Batch
      .select(col("doc_id"), col("norm_fp"),
        NearDup.shingleHashes3(col("text")).as("sh"))
      .staged
    val f4Sh = f4B.select(col("doc_id").as("id"), col("sh"))
    val newPairs = newPairsFor(f4Sh,
      if (!hasState) None
      else Some(Versioned.read(spark, candTable(stateDir))
        .select(col("doc_id").as("id"), col("sh"))))

    val vc = Versioned.append(f4B, candTable(stateDir))
    Versioned.append(newPairs, pairTable(stateDir)): Unit
    Versioned.committed(spark, stateDir, State, vc)
  }

  /** TAKEDOWN for the curation state — the [[Tombstones]] discipline's
    * state-artifact sibling (candidates persist a document's normalized
    * fingerprint AND its full shingle-hash set, doc-derived data a
    * deletion must actually remove, not merely stop serving): drop the
    * documents' candidate rows and every pair edge touching them, as
    * two lockstep overwrites. After the delete the state behaves as one
    * that never admitted the docs — a later re-ingest of the same
    * content is ADMITTED again (its norm_fp keeper row is gone), a
    * near-dup cluster whose representative died promotes its next-min
    * member (pairs among survivors persist, CC re-derives), and
    * [[survivors]] ≡ [[fullCurate]] over the corpus minus the docs
    * (spec-proven). One documented divergence, inherent to INCREMENTAL
    * dedup: a document the deleted doc had SHADOWED at ingest (same
    * norm_fp, dropped by the anti-join before ever entering state)
    * stays absent — its text lives only in its original batch; re-admit
    * it by replaying that batch.
    *
    * Crash shape: candidates commit first; a death before the pairs
    * commit leaves candidates ahead, which [[heal]] closes with an
    * empty pair append (the orphan-batch algebra sees no new docs) —
    * lockstep restores with the dead EDGES still present. Those
    * dangling edges are INERT: [[survivorsFrom]] drops every edge
    * whose endpoint has no candidate row before clustering, so the
    * healed state derives the same survivors as a completed delete;
    * new batches cannot pair against the dead doc (its candidate row —
    * the shingle source — is gone); and the next [[deleteFromState]]
    * carrying the same ids physically completes the drop (the daily
    * takedown stage fires this only on boundaries WITH a takedown
    * list, which may be never — hence the in-read cut rather than a
    * re-fire contract). Idempotent: nothing to drop ⇒ None, no version
    * bump. Deletion lists broadcast.
    */
  def deleteFromState(spark: SparkSession, stateDir: String,
                      docIds: DataFrame): Option[Long] = {
    if (!Versioned.exists(spark, candTable(stateDir))) return None
    heal(spark, stateDir)
    val dead = docIds.select(col("doc_id").cast("long").as("__dead"))
      .distinct().staged // feeds 4 joins
    val cands = Versioned.read(spark, candTable(stateDir))
    val prs = Versioned.read(spark, pairTable(stateDir))
    val hitC = !cands.join(broadcast(dead),
      col("doc_id") === col("__dead"), "left_semi").isEmpty
    val hitP = !prs.join(broadcast(dead),
      col("doc_a") === col("__dead") || col("doc_b") === col("__dead"),
      "left_semi").isEmpty
    if (!hitC && !hitP) return None
    val vc = Versioned.overwrite(
      cands.join(broadcast(dead), col("doc_id") === col("__dead"),
        "left_anti"),
      candTable(stateDir))
    Versioned.overwrite(
      prs.join(broadcast(dead), col("doc_a") === col("__dead"), "left_anti")
        .join(broadcast(dead), col("doc_b") === col("__dead"), "left_anti"),
      pairTable(stateDir)): Unit
    Some(Versioned.committed(spark, stateDir, State, vc))
  }

  /** The curated corpus at state version `asOf` (default latest):
    * candidates minus near-dup cluster non-representatives, with the
    * deterministic train-split flag. Output: (doc_id, is_train).
    * Latest-reads read-repair a crash-wedged state first ([[heal]]);
    * `asOf` reads don't need to — every committed batch boundary is a
    * consistent (candidates, pairs) version pair.
    */
  def survivors(spark: SparkSession, stateDir: String,
                asOf: Option[Long] = None): DataFrame = {
    if (asOf.isEmpty) heal(spark, stateDir)
    val cands = Versioned.read(spark, candTable(stateDir), asOf)
    val prs = Versioned.read(spark, pairTable(stateDir), asOf)
      .select(col("doc_a"), col("doc_b"))
    survivorsFrom(cands, prs)
  }

  private def survivorsFrom(cands: DataFrame, prs0: DataFrame): DataFrame = {
    // Drop DANGLING edges first — edges whose endpoint has no candidate
    // row. The one shape that produces them: a [[deleteFromState]] that
    // crashed between its candidates and pairs overwrites, healed by
    // [[heal]]'s empty pair append (lockstep restored, dead edges
    // intact). Without this cut the connected components still contain
    // the deleted doc, it can be a cluster's min (= representative),
    // and every SURVIVING member of that cluster would be silently
    // dropped from the curated corpus. Pair-graph-sized semi joins —
    // orders of magnitude below the corpus.
    val ids = cands.select(col("doc_id"))
    val prs = prs0
      .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    val nodes = prs.select(col("doc_a").as("id"))
      .unionByName(prs.select(col("doc_b").as("id"))).distinct()
    val dropNear = Graph.connectedComponents(nodes, prs, maxIter = 60)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    // no broadcast hint: the drop set grows with the accumulated
    // corpus's duplicate mass — AQE broadcasts it while small
    cands.join(dropNear, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        (Corpus.hashBucket(col("doc_id")) < trainPct).as("is_train"))
  }

  /** One-shot recompute over the whole corpus — the equivalence oracle
    * for the incremental path (and the same composition as q110's
    * stages f1–f6, survivor SET instead of funnel counts).
    */
  def fullCurate(docs: DataFrame): DataFrame = {
    val f4 = exactKeepers(rowLocal(docs))
      .select(col("doc_id"), col("text"))
      .staged
    val prs = NearDup.ngramJaccardPairs(f4, col("doc_id"), col("text"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"))
    survivorsFrom(f4, prs)
  }
}
