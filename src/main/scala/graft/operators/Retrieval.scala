package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Versioned

/** Okapi BM25 full-text retrieval — the lexical half of a retrieval
  * stack (the embedding half is [[Similarity]]). Classic search-engine
  * ranking (Robertson & Spärck Jones's probabilistic relevance
  * framework; the BM25 form from TREC-3, 1994): for query terms T and
  * document d,
  *
  *   score(d) = Σ_{t∈T} idf(t) · tf(t,d)·(k1+1) /
  *                       (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
  *
  * with the standard smoothed idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
  * (always positive, unlike the raw log-odds form). k1 = 1.2, b = 0.75
  * are the published defaults.
  *
  * Everything here is deterministic and SQL-replayable: tf/df/dl/N are
  * exact integers off hash aggregations, the per-term score is one fixed
  * double expression over them, and the per-document sum rides
  * DECIMAL(27,10) so it is order-independent (the [[Corpus.lmScore]]
  * discipline — a plain double sum would depend on partitioning).
  *
  * Scale shape (100 TB corpus, ad-hoc query): the inline form
  * ([[bm25TopK]]) pays one corpus pass — tokens explode map-side and the
  * non-query tokens are FILTERED INSIDE the same codegen stage, so the
  * only shuffle carries (doc_id, dl, tok, tf) for the query terms alone;
  * df is |T| rows; the final ranking is TakeOrderedAndProject. The
  * query-many path is the persisted inverted index
  * ([[Index.build]] / [[queryBm25Index]]): build once, and each query
  * touches only the postings rows of its terms (predicate pushdown on
  * the token column; bucket the postings by token on a real cluster) —
  * document length is DENORMALIZED INTO the postings row exactly so a
  * probe never joins a corpus-sized doc-length table.
  */
object Retrieval {

  /** Published Okapi defaults. */
  val K1: Double = 1.2
  val B: Double  = 0.75

  /** The customary Dirichlet smoothing mass of query likelihood. */
  val Mu: Double = 2000.0

  /** (doc_id, dl, tok, tf) for the query terms only, plus the 1-row
    * corpus stats (n_docs, sum_dl). The stats ride a broadcast cross
    * join; the token filter runs inside the scan's codegen stage.
    */
  private def tfAndStats(docs: DataFrame, id: Column, text: Column,
                         terms: Seq[String]): (DataFrame, DataFrame) = {
    val base = docs.select(id.as("doc_id"), TextOps.tokens(text).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isInCollection(terms))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    (tf, stats)
  }

  /** The per-(doc, term) BM25 contribution over columns tf, dl, df,
    * n_docs, sum_dl — ONE formula shared by every scoring path (inline,
    * single-query index, multi-query index), so the paths provably
    * score identically. */
  private def bmTermExpr: Column = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    idf * (tfd * lit(K1 + 1.0)) /
      (tfd + lit(K1) * (lit(1.0 - B) + lit(B) * dld / avgdl))
  }

  private def scoreDocs(tf: DataFrame, stats: DataFrame): DataFrame = {
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(dfTab, Seq("tok"))
      .crossJoin(stats) // 1 row — broadcast nested loop by construction
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
           sum(bmTermExpr.cast("decimal(27,10)")).as("s"))
      .select(col("doc_id"), col("n_terms"), col("s").cast("double").as("score"))
  }

  /** A persisted index's 1-row corpus stats (n_docs, sum_dl) at `asOf`
    * appended to `rows` as plan literals — read once per stats version
    * ([[Versioned.rows]]), so a probe neither scans nor broadcasts the
    * stats table per request. The inline [[bm25Scores]] keeps its
    * corpus-derived stats.
    */
  private def withIndexStats(spark: SparkSession, indexDir: String,
                             asOf: Option[Long], rows: DataFrame): DataFrame = {
    val stats = Versioned.rows(spark, s"$indexDir/stats", asOf,
      Seq("n_docs", "sum_dl"))
    require(stats.size == 1, s"$indexDir stats must be one row, found " +
      s"${stats.size} — rebuild the index")
    val r = stats.head
    rows.select(col("*") +: r.schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => lit(r.get(i)).cast(f.dataType).as(f.name) }: _*)
  }

  /** df per (`group`…, tok) as a window count over a probed postings
    * slice (one row per (tok, doc) per group) — the same number as a
    * per-term aggregate joined back, without the join, so the slice has
    * one consumer and needs no staging seam. Filters applied ABOVE the
    * window (metadata predicates, tombstone gates) leave df index-global;
    * only a filter on the window's own keys could sink below it, and that
    * drops whole partitions without changing the others' counts.
    */
  private def withDf(slice: DataFrame, group: Seq[String]): DataFrame =
    slice.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy((group :+ "tok").map(col): _*)))

  /** Per-(`group`…, doc) BM25 over an index slice carrying df, with the
    * index stats as literals ([[withIndexStats]]). */
  private def scoreIndexed(spark: SparkSession, indexDir: String,
                           asOf: Option[Long], slice: DataFrame,
                           group: Seq[String]): DataFrame =
    withIndexStats(spark, indexDir, asOf, slice)
      .groupBy((group :+ "doc_id").map(col): _*)
      .agg(count(lit(1)).as("n_terms"),
           sum(bmTermExpr.cast("decimal(27,10)")).as("s"))
      .select((group.map(col) ++ Seq(col("doc_id"), col("n_terms"),
        col("s").cast("double").as("score"))): _*)

  /** BM25 scores for every document matching ≥1 query term.
    * Output: doc_id, n_terms (distinct query terms present), score.
    */
  def bm25Scores(docs: DataFrame, id: Column, text: Column,
                 terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val (tf, stats) = tfAndStats(docs, id, text, terms)
    // tf feeds BOTH the scoring join and the df derivation — stage it
    // (it is query-term-sized: ≤ |T| rows per matching doc) so the
    // second consumer does not replay the corpus explode lineage. The
    // index paths derive df by a window instead ([[withDf]]) over their
    // token-pruned postings scan, which keeps the parquet pushdown.
    scoreDocs(tf.localCheckpoint(eager = false), stats)
  }

  /** Top-k BM25 search (score desc, doc_id asc — a total order). */
  def bm25TopK(docs: DataFrame, id: Column, text: Column, terms: Seq[String],
               k: Int): DataFrame =
    bm25Scores(docs, id, text, terms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  // -------------------------------------------------------------------
  // Persisted inverted index — build once, query many (the persisted-
  // ANN-index / NB-model discipline applied to lexical search).

  /** POSITIONAL postings off a (doc_id, dl, toks) base: one row per
    * (tok, doc) with tf, the denormalized doc length, and the sorted
    * 1-based position list — the Lucene posting shape that makes
    * phrase queries index-only. Shared by build and append.
    */
  private def postingsOf(base: DataFrame,
                         metaCols: Seq[String] = Nil): DataFrame = base
    .select((col("doc_id") +: col("dl") +: metaCols.map(col) :+
      posexplode(col("toks"))): _*)
    // metadata gate columns ride the grouping keys (functionally
    // dependent on doc_id — the dl denormalization discipline applied
    // to filtered search: a probe's predicate then runs INSIDE the
    // token-pruned scan, no doc-meta join per query)
    .groupBy((col("col").as("tok") +: col("doc_id") +: col("dl") +:
      metaCols.map(col)): _*)
    .agg(count(lit(1)).as("tf"),
         sort_array(collect_list(col("pos") + 1)).as("positions"))
    .select((col("tok") +: col("doc_id") +: col("tf") +: col("dl") +:
      col("positions") +: metaCols.map(col)): _*)

  /** Deterministic token shard in [0, nParts): md5-derived, the
    * engine's cross-run/cross-engine-stable hash family (the
    * `Corpus.hashBucket` discipline — Spark's own hash() would differ
    * per engine). The partition column of the "partition" postings
    * layout; [[tokPartOf]] is its exact Scala twin for literal terms.
    */
  private[operators] def tokPartExpr(tok: Column, nParts: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % nParts

  private[graft] def tokPartOf(term: String, nParts: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16) % nParts
  }

  /** Build the inverted index: `postings` (tok, doc_id, tf, dl,
    * positions — doc length denormalized into the row, 1-based sorted
    * position list for phrase queries) + 1-row `stats` (n_docs,
    * sum_dl), two lockstep [[Versioned]] tables. One corpus pass.
    *
    * Two physical layouts, the Similarity-assignment dichotomy:
    *
    *  - `layout = "bucket"` (default): postings BUCKETED BY TOKEN
    *    ([[Versioned.overwriteBucketed]]) — a probe's literal term
    *    filter prunes whole buckets at the scan (it reads |terms|
    *    buckets' bytes, not the postings table), and the df-per-token
    *    aggregation inside [[queryBm25Index]] needs no Exchange because
    *    the scan already arrives hash-partitioned on `tok`. `nBuckets`
    *    sizes bucket files: at 100 TB pick postings_bytes / ~256 MB.
    *  - `layout = "partition"`: postings land in `nPartDirs` token-shard
    *    DIRECTORIES (partition column `tok_part` = md5(tok) mod
    *    nPartDirs). This is the layout for DYNAMIC term sets
    *    ([[queryBm25IndexMany]], where terms arrive as data, not
    *    literals): the broadcast term join carries tok_part, so Spark
    *    DPP prunes unprobed directories' BYTES at run time — the lever
    *    bucketing cannot give a data-dependent join. Literal probes
    *    prune the same directories statically. Keep nPartDirs modest
    *    (each shard is a directory); token skew within a shard is fine
    *    — pruning is per-shard, scoring is per-token.
    */
  /** Tokens whose document frequency exceeds `maxDfRatio` of the corpus
    * — the stop-list derivation for a df-capped index build (the
    * `maxShingleFreq` analogue at the lexical layer): a real corpus is
    * Zipf-skewed, and a stop token's postings list is corpus-sized, so
    * one stop-bearing query makes the "pruned" probe slice scale with
    * the corpus instead of the query. Capping trades their ~zero-idf
    * score contribution (df ≈ N ⇒ BM25 idf ≈ 0) for probe bytes bounded
    * by the DISCRIMINATIVE terms' postings. Output: (tok, df),
    * vocabulary-bounded and usually a handful of rows — collect it into
    * an [[Index.Bm25Spec]]'s `stopTokens`.
    */
  def heavyTokens(docs: DataFrame, id: Column, text: Column,
                  maxDfRatio: Double): DataFrame = {
    require(maxDfRatio > 0 && maxDfRatio < 1,
      s"maxDfRatio must be in (0, 1), got $maxDfRatio")
    val base = docs.select(id.as("doc_id"), TextOps.tokens(text).as("toks"))
    val n = base.agg(count(lit(1)).as("n_docs"))
    base.select(col("doc_id"), explode(col("toks")).as("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df").cast("double") > lit(maxDfRatio) * col("n_docs"))
      .select(col("tok"), col("df"))
      .orderBy(col("df").desc, col("tok"))
  }

  /** `stopTokens` (usually [[heavyTokens]]' output) drops those tokens'
    * postings AT BUILD: stats stay TRUE corpus stats (dl counts every
    * token), so un-stopped terms score exactly as on the uncapped index
    * and stopped query terms simply contribute nothing (BM25: no hits;
    * QL: collection-frequency 0, the OOV treatment) — the documented
    * recall trade. The stop set FREEZES at build (persisted in a
    * stamped `stop_toks` sidecar): appends filter their batches with
    * it, so the index stays internally consistent until the rebuild
    * cadence refreshes the set.
    */
  private[operators] def bm25Build(docs: DataFrame, id: Column, text: Column,
                                   indexDir: String, spec: Index.Bm25Spec,
                                   v: Long): Long = {
    import spec._
    val spark = docs.sparkSession
    val base = docs.select((id.as("doc_id") +:
        TextOps.tokens(text).as("toks") +: metaCols.map(col)): _*)
      .select((col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
        col("toks") +: metaCols.map(col)): _*)
    val postings0 = postingsOf(base, metaCols)
    val postings =
      if (stopTokens.isEmpty) postings0
      else postings0.filter(!col("tok").isInCollection(stopTokens))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // the cap marker lands BEFORE the table commits (fail-closed order):
    // a capped build that dies between its commits and a post-hoc marker
    // write would otherwise read as UNCAPPED — appends would land stop
    // postings unfiltered onto a filtered base, silent ranking
    // corruption with no repair signal. Every build writes its epoch
    // marker (empty token list = explicitly uncapped) at the version `v`
    // the commit rule ([[Versioned.rewrite]]) is ABOUT to commit, so the
    // commit can never land without its cap status on disk; a pre-commit
    // crash leaves only an orphan marker at a version that does not
    // exist, which the next build overwrites.
    val postT = s"$indexDir/postings"
    Stamp.mark(spark, indexDir, Stamp.StopToks,
      (stopTokens, stopMaxDfRatio), v)
    val vp = layout match {
      case "bucket" => Versioned.overwriteBucketed(postings,
        postT, "tok", nBuckets)
      case "partition" => Versioned.overwritePartitioned(
        postings.withColumn("tok_part", tokPartExpr(col("tok"), nPartDirs)),
        postT, "tok_part")
      case other => throw new IllegalArgumentException(
        s"postings layout must be bucket or partition, got $other")
    }
    Versioned.overwrite(stats, s"$indexDir/stats"): Unit
    // the shard count is persisted beside the index (the chunk_grid
    // discipline): queries and appends derive tok_part from there, so
    // there is no way to probe or append with a mismatched modulus
    if (layout == "partition")
      Stamp.write(spark, indexDir, Stamp.TokParts, nPartDirs, vp)
    // re-marks at the committed version (a concurrent writer may have
    // taken the predicted one), then the legacy head pointer
    Stamp.write(spark, indexDir, Stamp.StopToks,
      (stopTokens, stopMaxDfRatio), vp)
    vp
  }

  /** The cap state of the index at its current overwrite snapshot:
    * (stop tokens — empty = uncapped, recap ratio). A trusted
    * [[Stamp.StopToks]] is final: its epoch marker precedes the commit it
    * describes, so a build or compaction can never land without it (an
    * empty list is an explicit uncapped build). Otherwise the legacy
    * head pointer decides: absent or unreadable = uncapped (a pre-cap-era
    * index); a stale EMPTY list is inert (filtering with the empty set is
    * the identity); a stale NON-empty list throws — the cap status of the
    * head snapshot is unknowable, and appending with a maybe-wrong set is
    * silent ranking corruption, not degradation. [[Index.repair]]
    * restores the stamp after the pure-rewrite content check.
    */
  private def stopStateOf(spark: SparkSession,
                          indexDir: String): (Seq[String], Option[Double]) =
    Stamp.read(spark, indexDir, Stamp.StopToks).getOrElse(
      Stamp.recorded(spark, indexDir, Stamp.StopToks) match {
        case None => (Nil, None)
        case Some(((toks, ratio), _)) if toks.isEmpty => (Nil, ratio)
        case Some(_) => throw new IllegalArgumentException(
          s"$indexDir ${Stamp.StopToks.name} sidecar is STALE (a " +
            "compaction or rebuild died between its postings commit and " +
            "the re-stamp) — run Index.repair to restore it, or " +
            "rebuild the index")
      })

  // --------------------------------------------------- tombstone gating
  //
  // Document deletion ([[Tombstones]]): every probe of a persisted
  // index filters its candidates against the index's tombstone id set
  // (a plan literal) BEFORE ranking — survivors fill the top-k (no
  // starvation), and df/cf/corpus stats stay PRE-delete until the
  // compaction physically drops the rows and corrects them (Lucene
  // delete-then-merge). Chunk-grain indexes gate on the decoded doc id
  // (high 32 bits of the composite key), detected from the index's own
  // chunk_grid sidecar.

  /** True when `indexDir` is a chunk-grain index (has a chunk_grid
    * sidecar) — its rows key by the composite ck, so doc-grain
    * tombstones match on the decoded high 32 bits. */
  private[operators] def hasChunkGrid(spark: SparkSession,
                                      indexDir: String): Boolean =
    Stamp.exists(spark, indexDir, lexGrid)

  /** The DOCUMENT id of an index row's key column: identity at doc
    * grain, the composite-key decode at chunk grain. */
  private[operators] def docKeyExpr(spark: SparkSession, indexDir: String,
                                    c: Column): Column =
    if (hasChunkGrid(spark, indexDir)) shiftright(c, 32) else c

  /** [[Tombstones.gate]] with the index's own grain decode. */
  private def tombGate(spark: SparkSession, indexDir: String,
                       rows: DataFrame, docCol: String): DataFrame =
    Tombstones.gate(spark, indexDir, rows,
      docKeyExpr(spark, indexDir, col(docCol)))

  /** Add a batch of NEW documents to an existing index (FAISS-add /
    * daily-cadence semantics; doc_ids must be previously unseen — the
    * same append-only invariant as `Corpus.appendSignalState`). Postings
    * rows append FIRST, then the 1-row stats table merges additively
    * and commits at the EXPECTED version (CAS). A crash — or a lost
    * CAS race — between the two commits leaves the batch's postings as
    * an ORPHAN SLICE ON DISK, from which [[Index.repair]] recomputes
    * the stats delta exactly (document length is denormalized into
    * every postings row). The reverse order was unwedgeable: the missed
    * postings delta was the batch itself, gone with the crashed
    * process. On a CAS failure do NOT re-append the same batch (its
    * postings are already committed) — run [[Index.repair]], which
    * folds the orphan slice's stats in and completes the append.
    */
  def appendToBm25Index(batch: DataFrame, id: Column, text: Column,
                        indexDir: String): Long =
    Index.append(Index.Text(batch, id, text), indexDir)

  /** [[appendToBm25Index]]'s body, on a dir [[Index.append]] checked is
    * in lockstep. */
  private[operators] def bm25Append(batch: DataFrame, id: Column, text: Column,
                                    indexDir: String): Long = {
    val spark = batch.sparkSession
    val vStats = Versioned.latestVersion(spark, s"$indexDir/stats")
    // a metadata-carrying index keeps its filtered-probe contract
    // through appends: the batch must supply the SAME baked columns
    // (the Similarity.withMeta discipline at the lexical layer)
    val meta = postingsMetaCols(Versioned.read(spark, s"$indexDir/postings"))
    val metaMissing = meta.filterNot(batch.columns.contains)
    require(metaMissing.isEmpty,
      s"$indexDir postings carry metadata column(s) ${meta.mkString(", ")} " +
        "(filtered-probe gates); the append batch must supply them — " +
        s"missing: ${metaMissing.mkString(", ")}")
    val base = batch.select((id.as("doc_id") +:
        TextOps.tokens(text).as("toks") +: meta.map(col)): _*)
      .select((col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
        col("toks") +: meta.map(col)): _*)
    // a capped index filters every batch with its FROZEN stop set (from
    // the sidecar, never the caller) — stats stay true corpus stats
    val stops = stopStateOf(spark, indexDir)._1
    val postings =
      if (stops.isEmpty) postingsOf(base, meta)
      else postingsOf(base, meta).filter(!col("tok").isInCollection(stops))
    val delta = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val merged = Versioned.read(spark, s"$indexDir/stats", Some(vStats))
      .unionByName(delta)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val partitioned = Versioned.declaredLayout(spark, s"$indexDir/postings")
      .startsWith("part:")
    val vp =
      if (!partitioned) Versioned.append(postings, s"$indexDir/postings")
      else {
        // a partitioned table's batches must land partitioned with the
        // SAME modulus — from the sidecar, never the caller
        val n = Stamp.read(spark, indexDir, Stamp.TokParts).getOrElse(sys.error(
          s"$indexDir postings are partition-laid-out but the " +
            s"${Stamp.TokParts.name} sidecar is absent or stale (a rebuild " +
            "crashed between its commit and the stamp) — rebuild with " +
            "Index.build"))
        Versioned.appendPartitioned(
          postings.withColumn("tok_part", tokPartExpr(col("tok"), n)),
          s"$indexDir/postings", "tok_part")
      }
    try Versioned.overwriteExpecting(merged, s"$indexDir/stats", vStats + 1): Unit
    catch { case e: IllegalArgumentException =>
      throw new IllegalStateException(s"BM25 stats CAS failed after the " +
        s"batch's postings committed (v$vp) on $indexDir — the postings " +
        s"are an orphan slice now; ${Index.Bm25.artifact.remedy} to fold their " +
        "stats in. Do NOT re-append the same batch (its postings would " +
        "land twice).", e)
    }
    vp
  }

  /** Repair an index wedged between its two commits — the
    * orphan-postings shape (postings version ahead of stats, or stats
    * table missing after a crashed build). The missed stats delta is
    * recomputed EXACTLY from the orphan postings slice: document
    * length rides every postings row, and every document carries ≥1
    * postings row (empty text tokenizes to [""], so no document is
    * invisible to postings), so the slice's distinct (doc_id, dl) set
    * IS the batch the crashed append was accounting for. Caveat on a
    * stop-CAPPED index: a crashed-append document consisting ENTIRELY
    * of stopped tokens has no postings rows, so its length drops from
    * the repaired stats (an avgdl epsilon — the documented cap trade;
    * a rebuild restores exact stats). Stats then
    * commit at the expected version until the tables are back in
    * lockstep — a gap of two crashed appends catches up with
    * content-identical commits (the full delta lands in the FIRST
    * repair commit, so intermediate versions inside a multi-crash gap
    * pair slightly-ahead stats with their postings snapshot — those
    * versions never existed as consistent pairs anyway; pin at or
    * before the gap, or at the repaired head). A pre-crash consumer
    * pinned via asOf is never affected.
    *
    * NOT covered: a chunk-grain index whose BUILD crashed before the
    * grid sidecar landed — the window grid lived only in the crashed
    * caller; rebuild it at Chunks grain (the DailyMaintenance
    * chunk stage self-heals exactly that way). A stats-AHEAD shape is
    * refused: no code path here produces it, so it signals foreign
    * writes. Returns the restored lockstep version; no-op when intact.
    */
  private[operators] def bm25Repair(spark: SparkSession, indexDir: String): Long = {
    val postT = s"$indexDir/postings"
    val statT = s"$indexDir/stats"
    require(Versioned.exists(spark, postT),
      s"$indexDir has no postings table — nothing to repair")
    def statsOf(docs: DataFrame): DataFrame =
      docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val vp = Versioned.latestVersion(spark, postT)
    if (!Versioned.exists(spark, statT)) {
      // a build died between its postings and stats commits
      val full = statsOf(Versioned.read(spark, postT, Some(vp))
        .select(col("doc_id"), col("dl")).distinct())
      Versioned.overwrite(full, statT): Unit
      Versioned.pad(spark, indexDir, Seq("stats"), vp)
      return vp
    }
    val vs = Versioned.latestVersion(spark, statT)
    if (vp == vs) return vp
    require(vp > vs, s"$indexDir stats v$vs is AHEAD of postings v$vp — " +
      "not the orphan-postings crash shape (no BM25 code path produces " +
      "it); rebuild into a fresh directory")
    // pre-crash lockstep means postings snapshot vs is exactly the
    // corpus stats v(vs) describes; append-only + new-doc-only
    // invariants make doc_id membership the delta — in BOTH directions:
    // docs present at vp but not vs are a crashed APPEND's batch (add
    // their stats), and docs present at vs but not vp are a crashed
    // tombstone-MERGE's drop set (subtract theirs) — but ONLY when they
    // are actually tombstoned: a crashed stop-list RECAP also removes
    // rows (a doc whose every token got capped vanishes from postings),
    // and those documents remain corpus members whose stats must stay
    // (stats are TRUE corpus stats under the cap — the q183 invariant).
    val headDocs = Versioned.read(spark, postT, Some(vp))
      .select(col("doc_id"), col("dl")).distinct()
    val baseDocs = Versioned.read(spark, postT, Some(vs))
      .select(col("doc_id"), col("dl")).distinct()
    val newDocs = headDocs.join(baseDocs.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val goneDocs = Tombstones.hits(spark, indexDir,
      baseDocs.join(headDocs.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      docKeyExpr(spark, indexDir, col("doc_id")))
    val merged = Versioned.read(spark, statT, Some(vs))
      .unionByName(statsOf(newDocs))
      .unionByName(statsOf(goneDocs).select(
        (-col("n_docs")).as("n_docs"), (-col("sum_dl")).as("sum_dl")))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    Versioned.overwriteExpecting(merged, statT, vs + 1): Unit
    Versioned.pad(spark, indexDir, Seq("stats"), vp)
    vp
  }

  /** Compact the index after a run of appends (the daily-add cadence):
    * re-establishes the postings' bucketed-by-token layout — appends
    * demote reads to plain unbucketed files, costing probes their
    * bucket pruning and shuffle-free token aggregation until this runs
    * ([[graft.sources.Versioned.compact]] re-buckets per the table's
    * last declared layout). BOTH tables compact so versions stay in
    * lockstep, POSTINGS FIRST: a crash between the two commits leaves
    * postings one version ahead with IDENTICAL content, which
    * [[Index.repair]] heals with an empty-delta catch-up commit —
    * the stats-first order would leave the unrepairable stats-ahead
    * shape.
    */
  def compactBm25Index(spark: SparkSession, indexDir: String): Long =
    Index.compact(spark, indexDir)

  /** [[compactBm25Index]]'s body ([[Index.compact]] re-stamps a chunk
    * index's grid after it). */
  private[operators] def bm25Compact(spark: SparkSession, indexDir: String): Long = {
    val postT = s"$indexDir/postings"
    val statT = s"$indexDir/stats"
    // a partition-layout index re-stamps its shard sidecar — and a
    // capped index its stop-list sidecar — at the new overwrite version
    // (compaction is an overwrite); both are read-validated BEFORE the
    // rewrite moves the stamp (a stale legacy state is never blessed
    // here: the compact proceeds and the index stays refused until
    // Index.repair adjudicates it)
    val nParts = Stamp.read(spark, indexDir, Stamp.TokParts)
    val state: Option[(Seq[String], Option[Double])] =
      try Some(stopStateOf(spark, indexDir))
      catch { case _: IllegalArgumentException => None }
    // RE-DERIVE the stop list when the build recorded its df ratio: the
    // compaction rewrites every postings byte anyway, so re-running the
    // heavy-token derivation is free — boilerplate that emerged AFTER
    // the build (a new spam template, a new crawl source) gets capped
    // at the next compaction instead of never, closing the Zipf gap on
    // a growing corpus. df comes off the postings themselves (one row
    // per (tok, doc)); stats stay TRUE corpus stats, so surviving terms
    // keep scoring exactly as on the uncapped twin — the q183 invariant.
    val recapped: Option[(Seq[String], Option[Double])] = state.map {
      case (toks, Some(r)) =>
        val nDocs = Versioned.read(spark, statT)
          .select(col("n_docs")).head.getLong(0)
        val newly = Versioned.read(spark, postT)
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .filter(col("df").cast("double") > lit(r) * nDocs)
          .collect().map(_.getString(0)).toSeq // bounded: ≤ 1/r tokens
        ((toks ++ newly).distinct.sorted, Some(r))
      case s => s
    }
    val dropped = recapped.map(_._1).getOrElse(Nil)
      .diff(state.map(_._1).getOrElse(Nil))
    // tombstone MERGE (the physical half of [[Tombstones]]' Lucene
    // split): the pending deletes' postings drop from the rewrite, and
    // stats subtract the dropped documents' denormalized lengths — after
    // this the index is row-identical to a fresh build without the docs
    // (post-merge df/cf derive per-query from the dropped postings).
    // The dropped (doc, dl) set comes off the postings BEFORE the
    // rewrite; the 1-row aggregate is a bounded control read. Known
    // epsilon (shared with bm25Repair): a tombstoned document whose
    // every token was stop-capped has no postings row, so its length
    // stays in stats — a rebuild restores exact stats.
    val docX = docKeyExpr(spark, indexDir, col("doc_id"))
    val goneRow = Tombstones.hits(spark, indexDir,
        Versioned.read(spark, postT).select(col("doc_id"), col("dl")), docX)
      .distinct()
      .agg(count(lit(1)), sum(col("dl"))).head
    val nGone = goneRow.getLong(0)
    val dlGone = if (goneRow.isNullAt(1)) 0L else goneRow.getLong(1)
    // the epoch marker precedes the commit it describes, as at build
    val vPred = Versioned.latestVersion(spark, postT) + 1
    recapped.foreach(Stamp.mark(spark, indexDir, Stamp.StopToks, _, vPred))
    val vp =
      if (dropped.isEmpty && nGone == 0L) Versioned.compact(spark, postT)
      else {
        // layout-preserving rewrite minus the newly-heavy tokens and the
        // tombstoned documents' rows
        val recapFiltered =
          if (dropped.isEmpty) Versioned.read(spark, postT)
          else Versioned.read(spark, postT)
            .filter(!col("tok").isInCollection(dropped))
        Versioned.overwriteLike(
          Tombstones.gate(spark, indexDir, recapFiltered, docX), postT)
      }
    if (nGone == 0L) Versioned.compact(spark, statT): Unit
    else {
        // postings committed first, so a crash here leaves the
        // postings-ahead-with-REMOVED-content shape bm25Repair
        // heals (it subtracts exactly the tombstoned gone-docs' stats)
        val corrected = Versioned.read(spark, statT).select(
          (col("n_docs") - lit(nGone)).cast("long").as("n_docs"),
          (col("sum_dl") - lit(dlGone)).cast("long").as("sum_dl"))
        Versioned.overwriteExpecting(corrected, statT, vp): Unit
    }
    nParts.foreach(Stamp.write(spark, indexDir, Stamp.TokParts, _, vp))
    recapped.foreach(Stamp.write(spark, indexDir, Stamp.StopToks, _, vp))
    vp
  }

  /** The query-term shard prune: layered over the always-correct token
    * filter when the index is partition-laid-out and the sidecar vouches
    * for the read's snapshot — the latest, or any pin INSIDE the live
    * layout epoch ([[Stamp.read]]); an older pin degrades to the
    * unpruned-but-correct scan.
    */
  private def shardPruned(spark: SparkSession, indexDir: String,
                          posts: DataFrame, terms: Seq[String],
                          asOf: Option[Long]): DataFrame =
    if (!posts.columns.contains("tok_part")) posts
    else Stamp.read(spark, indexDir, Stamp.TokParts, asOf) match {
      case Some(n) => posts.filter(col("tok_part")
        .isInCollection(terms.map(tokPartOf(_, n)).distinct))
      case None => posts
    }

  /** The version a read of the index at `indexDir` pins
    * ([[Versioned.lockstep]] over its family's declared tables,
    * [[Index.Family]]): `asOf` itself, or the latest version all of them
    * share — a wedged dir, or one missing a declared table, refuses
    * naming its family's remedy. Every index probe and every serving
    * stream pins through here.
    */
  private[graft] def pinIndex(spark: SparkSession, indexDir: String,
                               asOf: Option[Long] = None): Long =
    asOf.getOrElse(Versioned.lockstep(spark, indexDir,
      Index.tablesFamily(spark, indexDir).artifact, None))

  // ------------------------------------------------ lexical probe request

  /** A single-index LEXICAL probe request over a persisted BM25 index
    * ([[Index.build]] with a [[Index.Bm25Spec]] at either grain — the dir's own
    * chunk_grid sidecar decides the grain, never a caller flag):
    *
    *  - BM25 by default, scored IDENTICALLY to the inline [[bm25TopK]]
    *    over the same corpus (same formula over the same exact integers;
    *    the 1-row stats are plan literals, [[withIndexStats]]);
    *  - `ql = Some(mu)`: Dirichlet-smoothed query likelihood (Zhai &
    *    Lafferty, SIGIR 2001; [[Mu]] is the published default) over the
    *    SAME postings slice: score(q,d) = Σ_{w∈q} ln((tf(w,d) +
    *    μ·cf(w)/|C|) / (dl + μ)) over every query term of a candidate
    *    (an unmatched term contributes its smoothing mass; terms absent
    *    from the corpus drop), n_terms counting MATCHED terms;
    *  - `predicate`: a metadata gate over columns baked into the
    *    postings rows at build (`metaCols` — denormalized like the doc
    *    length, so the gate runs inside the token-pruned scan with no
    *    doc-meta join). Lucene filtered-search semantics: df and the
    *    corpus stats stay INDEX-GLOBAL, so a survivor scores exactly as
    *    unfiltered (the gate changes WHO ranks, never HOW), and the gate
    *    applies to the full matching set before ranking (no
    *    starvation). A predicate naming a column the index lacks
    *    refuses; QL cannot gate;
    *  - `asOf`: time-travel to any historical index version.
    *
    * Pending deletes gate every plan before ranking (stats/df stay
    * pre-delete until compaction — the Lucene split, see [[Tombstones]]).
    * A new single-index lexical probe is a value of this type planned by
    * [[lexical]], never a new `query*` function.
    */
  final case class Lexical(dir: String, ql: Option[Double] = None,
                           predicate: Option[Column] = None,
                           asOf: Option[Long] = None)

  /** Plan a [[Lexical]] request over LITERAL query terms: the terms push
    * into the postings scan as a token IN (bucket/shard-pruned by
    * layout), so a probe reads only its terms' postings. Output: top-k
    * (doc_id, n_terms, score) by (score desc, doc_id asc); at chunk grain
    * (doc_id, chunk_start, n_terms, score) — the composite key's asc
    * order IS (doc, chunk) asc.
    */
  def lexical(spark: SparkSession, req: Lexical, terms: Seq[String],
              k: Int): DataFrame = {
    val top = lexTop(spark, req, Left(terms), k)
    if (hasChunkGrid(spark, req.dir)) decodeChunkKey(top) else top
  }

  /** Plan a [[Lexical]] request over a query BATCH (query_id, terms
    * array<string>) in ONE postings pass — the batch-serving shape: the
    * (query, term) set broadcasts onto the postings scan
    * ([[bm25ManyHits]]; DPP prunes token-shard directories on a
    * partition layout), df/cf derive per query from the joined slice,
    * and ranking is a bounded top-k per query. A 1-query batch returns
    * the literal plan's rows. Output: (query_id, doc_id[, chunk_start],
    * n_terms, score) by (query_id, score desc, doc_id[, chunk_start]).
    */
  def lexical(spark: SparkSession, req: Lexical, queries: DataFrame,
              k: Int): DataFrame = {
    val top = lexTop(spark, req, Right(queries), k)
    if (hasChunkGrid(spark, req.dir))
      decodeChunkKey(top).orderBy(col("query_id"), col("score").desc,
        col("doc_id"), col("chunk_start"))
    else top.orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  /** The BM25 preset of [[lexical]] over literal terms (signature frozen:
    * `perfbench` and the job-budget spec call it). */
  def queryBm25Index(spark: SparkSession, indexDir: String,
                     terms: Seq[String], k: Int,
                     asOf: Option[Long] = None): DataFrame =
    lexical(spark, Lexical(indexDir, asOf = asOf), terms, k)

  /** The BM25 preset of [[lexical]] over a query batch (signature
    * frozen, like [[queryBm25Index]]). */
  def queryBm25IndexMany(spark: SparkSession, indexDir: String,
                         queries: DataFrame, k: Int,
                         asOf: Option[Long] = None): DataFrame =
    lexical(spark, Lexical(indexDir, asOf = asOf), queries, k)

  /** The composite-keyed core of [[lexical]] — what [[hybrid]]'s lexical
    * arms and [[rm3Expand]] consume: literal terms give the ordered
    * top-k, a batch its top-k per query UNSORTED (a fusion arm's
    * [[rrfFuse]] re-ranks per query anyway). One scoring body per ranker
    * serves both plans; the tombstone gate runs before ranking.
    */
  private def lexTop(spark: SparkSession, req: Lexical,
                     input: Either[Seq[String], DataFrame],
                     k: Int): DataFrame = {
    val (scored, group) = lexScored(spark, req, input)
    topOf(scored, group, k)
  }

  /** The gated (group…, doc_id, n_terms, score) set of a lexical
    * request, unranked, and its group keys. */
  private def lexScored(spark: SparkSession, req: Lexical,
                        input: Either[Seq[String], DataFrame])
      : (DataFrame, Seq[String]) = {
    val (hits, group) = lexHits(spark, req, input)
    val scored = req.ql match {
      case None => scoreIndexed(spark, req.dir, req.asOf,
        bm25Slice(hits, group, req.predicate), group)
      case Some(mu) => qlScored(spark, req, hits, group, mu)
    }
    (tombGate(spark, req.dir, scored, "doc_id"), group)
  }

  /** Ranking of a gated (group…, doc_id, n_terms, score) set: the global
    * top-k (TakeOrderedAndProject) without a group, else the top-k per
    * group, unsorted. */
  private def topOf(scored: DataFrame, group: Seq[String], k: Int): DataFrame =
    if (group.isEmpty)
      scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    else Ranking.topPerGroup(scored, group.map(col),
        Seq(col("score").desc, col("doc_id").asc), k)
      .select((group.map(col) ++ Seq(col("doc_id"), col("n_terms"),
        col("score"))): _*)

  /** The probed postings rows of a lexical request and their group
    * keys — the input type picks the plan. Literal terms prune the scan
    * by token (shard directories, bucket files, the parquet IN) and need
    * no group; a batch is the broadcast (query, term) probe join
    * ([[bm25ManyHits]]) grouped by query_id. Pins the index and refuses
    * what it cannot plan before any job runs.
    */
  private def lexHits(spark: SparkSession, req: Lexical,
                      input: Either[Seq[String], DataFrame])
      : (DataFrame, Seq[String]) = {
    val ranker = if (req.ql.isEmpty) "BM25" else "QL"
    input.left.foreach(terms =>
      require(terms.nonEmpty, s"$ranker needs at least one query term"))
    req.ql.foreach(mu =>
      require(mu > 0, s"Dirichlet mu must be positive, got $mu"))
    require(req.ql.isEmpty || req.predicate.isEmpty,
      "the QL ranker cannot gate: a predicate gates the BM25 ranker only")
    pinIndex(spark, req.dir, req.asOf): Unit
    // read only when used: each read resolves the table's log, and the
    // batch plan's probe join reads the postings itself
    lazy val posts = Versioned.read(spark, s"${req.dir}/postings", req.asOf)
    req.predicate.foreach(requirePredicate(req.dir, "postings", posts,
      postingsMetaCols(posts), _))
    input match {
      case Left(terms) => (shardPruned(spark, req.dir, posts, terms, req.asOf)
        .filter(col("tok").isInCollection(terms)), Nil)
      case Right(queries) =>
        (bm25ManyHits(spark, req.dir, queries, req.asOf), Seq("query_id"))
    }
  }

  /** The BM25 slice: df per (group…, tok) from the UNgated hits
    * (index-global idf), the predicate above the df window. */
  private def bm25Slice(hits: DataFrame, group: Seq[String],
                        predicate: Option[Column]): DataFrame = {
    val slice = withDf(hits, group)
    predicate.map(slice.filter).getOrElse(slice)
  }

  /** Dirichlet QL per (group…, doc) over the probed hits: cf and the
    * candidate set both derive from the slice; the candidate × term grid
    * is |cand|·|terms| rows with the |terms|-row cf table broadcast.
    * Per-doc sums ride DECIMAL(27,10), so the double scores replay
    * exactly in SQL.
    */
  private def qlScored(spark: SparkSession, req: Lexical, hits: DataFrame,
                       group: Seq[String], mu: Double): DataFrame = {
    // the slice feeds cf, the candidate set AND the tf join — stage it
    // (≤ |terms| rows per matching doc, the bm25Scores rule)
    val staged = hits.select((group ++ Seq("doc_id", "dl", "tok", "tf"))
      .map(col): _*).localCheckpoint(eager = false)
    val cf = staged.groupBy((group :+ "tok").map(col): _*)
      .agg(sum(col("tf")).as("cf"))
    val cand = staged.select((group ++ Seq("doc_id", "dl")).map(col): _*)
      .distinct()
    withIndexStats(spark, req.dir, req.asOf, cand
      .join(broadcast(cf), group)
      .join(staged.drop("dl"), group ++ Seq("doc_id", "tok"), "left"))
      .withColumn("__s", log(
        (coalesce(col("tf"), lit(0L)).cast("double") +
          lit(mu) * (col("cf").cast("double") / col("sum_dl").cast("double"))) /
        (col("dl").cast("double") + lit(mu))))
      .groupBy((group :+ "doc_id").map(col): _*)
      .agg(sum(when(col("tf").isNotNull, 1L).otherwise(0L)).as("n_terms"),
        sum(col("__s").cast("decimal(27,10)")).as("__sc"))
      .select((group.map(col) ++ Seq(col("doc_id"), col("n_terms"),
        col("__sc").cast("double").as("score"))): _*)
  }

  /** Postings columns beyond the core shape = caller-baked metadata
    * (the filtered-probe gate columns). */
  private[operators] def postingsMetaCols(posts: DataFrame): Seq[String] =
    posts.columns.toSeq.filterNot(
      Set("tok", "doc_id", "tf", "dl", "positions", "tok_part"))

  /** Refuse a probe predicate naming a column the index `table` does not
    * carry: silently scoring an UNfiltered stream would be a wrong
    * answer, not a degradation. The check compares the predicate's
    * referenced column names with the schema — no analysis is run, so a
    * refusal leaves no failed query behind for Spark's listeners to log.
    */
  private[operators] def requirePredicate(indexDir: String, table: String,
                                          rows: DataFrame, meta: Seq[String],
                                          predicate: Column): Unit = {
    val have = rows.columns.map(_.toLowerCase).toSet
    val missing = org.apache.spark.sql.GraftColumnBridge.references(predicate)
      .filterNot(c => have(c.toLowerCase)).distinct
    require(missing.isEmpty, s"$indexDir $table cannot resolve the probe " +
      s"predicate `$predicate` (no column ${missing.mkString(", ")}) — the " +
      "filtered probe gates candidates inside the scan, so the predicate " +
      "may only reference columns baked into the index at build (metaCols; " +
      s"available metadata here: ${if (meta.isEmpty) "none — this index " +
        "was built without metaCols" else meta.mkString(", ")}). Rebuild " +
      "with the column in metaCols, or gate through a relation joined " +
      "post-probe.")
  }

  /** The batch postings probe: the (query, posting) equality join
    * BEFORE scoring. The term set is data, not a literal, so nothing
    * pushes into the parquet scan — non-matching postings rows die
    * map-side at the broadcast-hash probe, and pruning the scan BYTES is
    * the layout's job: on a partition-layout index the broadcast term
    * join carries the shard column, so Spark DPP prunes unprobed
    * token-shard DIRECTORIES' bytes at run time. Package-visible so the
    * plan audit can assert the dynamicpruning subquery on the probe
    * fragment itself, on a storage-backed query batch.
    */
  private[graft] def bm25ManyHits(spark: SparkSession, indexDir: String,
                                  queries: DataFrame,
                                  asOf: Option[Long]): DataFrame = {
    val postsAll = Versioned.read(spark, s"$indexDir/postings", asOf)
    val partN =
      if (postsAll.columns.contains("tok_part"))
        Stamp.read(spark, indexDir, Stamp.TokParts, asOf)
      else None
    val posts = postsAll.select(
      (partN.map(_ => col("tok_part")).toSeq ++
        Seq(col("doc_id"), col("dl"), col("tok"), col("tf")) ++
        postingsMetaCols(postsAll).map(col)): _*)
    // the (query, term) set is broadcast, so it is small by construction:
    // dedup it in one partition — a single-partition aggregate needs no
    // shuffle
    val qt0 = queries
      .select(col("query_id"), explode(col("terms")).as("tok"))
      .coalesce(1).distinct()
    val (qt, joinKeys) = partN match {
      case Some(n) =>
        (qt0.withColumn("tok_part", tokPartExpr(col("tok"), n)),
          Seq("tok_part", "tok"))
      case None => (qt0, Seq("tok"))
    }
    posts.join(broadcast(qt), joinKeys)
  }

  // ------------------------------------------------------ facet counts

  /** FACET COUNTS over filtered retrieval — the serving aggregate every
    * search UI mounts beside its top-k: per gate-column value, the
    * count of the FULL eligible matching set (documents matching ≥1
    * query term AND the predicate, minus pending deletes) — NOT of the
    * truncated top-k. Rides exactly the [[lexical]] plan's own literal
    * slice ([[facetSlice]]), so facet bytes == probe bytes and no
    * doc-meta table joins at query time. Facet and predicate columns
    * must be baked; un-baked names refuse loudly.
    * Output: (facetCols…, n_docs), ordered by the facet columns.
    */
  def bm25Facets(spark: SparkSession, indexDir: String, terms: Seq[String],
                 facetCols: Seq[String], predicate: Option[Column] = None,
                 asOf: Option[Long] = None): DataFrame =
    facetsOf(spark, indexDir,
      facetSlice(spark, indexDir, terms, facetCols, predicate, asOf),
      facetCols)

  /** Ranking AND facets off ONE physical pass: the token-pruned slice
    * stages once (lazy localCheckpoint — the first action materializes
    * it, the second reuses the rows), the left half is exactly the
    * filtered [[lexical]] ranking and the right half exactly
    * [[bm25Facets]]' counts (both spec-asserted). This is the serving
    * shape: a UI needs both per request, and paying the probe scan
    * twice would double the per-request index bytes.
    */
  def queryBm25IndexFaceted(spark: SparkSession, indexDir: String,
                            terms: Seq[String], k: Int,
                            facetCols: Seq[String],
                            predicate: Option[Column] = None,
                            asOf: Option[Long] = None)
      : (DataFrame, DataFrame) = {
    // the slice rows already carry INDEX-GLOBAL df, so ranking needs no
    // second df pass
    val slice = facetSlice(spark, indexDir, terms, facetCols, predicate,
      asOf).localCheckpoint(eager = false)
    val ranked = topOf(tombGate(spark, indexDir,
      scoreIndexed(spark, indexDir, asOf, slice, Nil), "doc_id"), Nil, k)
    (ranked, facetsOf(spark, indexDir, slice, facetCols))
  }

  /** The [[lexical]] planner's literal BM25 slice (df index-global,
    * predicate-gated) narrowed to (doc_id, dl, tok, tf, df, facetCols…).
    */
  private def facetSlice(spark: SparkSession, indexDir: String,
                         terms: Seq[String], facetCols: Seq[String],
                         predicate: Option[Column],
                         asOf: Option[Long]): DataFrame = {
    require(facetCols.nonEmpty, "need at least one facet column")
    val (hits, _) = lexHits(spark,
      Lexical(indexDir, predicate = predicate, asOf = asOf), Left(terms))
    val missing = facetCols.filterNot(postingsMetaCols(hits).contains)
    require(missing.isEmpty,
      s"$indexDir postings do not carry facet column(s) " +
        s"${missing.mkString(", ")} — facets count inside the token-pruned " +
        "scan, so the columns must be baked at build (metaCols; available: " +
        s"${postingsMetaCols(hits) match {
          case Nil => "none"; case ms => ms.mkString(", ") }})")
    bm25Slice(hits, Nil, predicate)
      .select((col("doc_id") +: col("dl") +: col("tok") +: col("tf") +:
        col("df") +: facetCols.map(col)): _*)
  }

  private def facetsOf(spark: SparkSession, indexDir: String,
                       slice: DataFrame, facetCols: Seq[String]): DataFrame =
    tombGate(spark, indexDir,
        slice.select((col("doc_id") +: facetCols.map(col)): _*).distinct(),
        "doc_id")
      .groupBy(facetCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(facetCols.map(col(_).asc): _*)

  /** Pseudo-relevance-feedback query expansion (RM3-style — Lavrenko &
    * Croft's relevance models, SIGIR 2001; the uniform-weight requery
    * simplification): rank once, treat the top `kFb` documents as
    * pseudo-relevant, mine their INDEX POSTINGS for the `nExp`
    * highest-mass expansion terms (mass(w) = Σ_fb tf(w,d)/dl(d) ·
    * score(d) — term likelihood weighted by document relevance, summed
    * in DECIMAL so the cut replays exactly), and re-rank with the
    * original ∪ expansion term set. The synonym-bridge effect: a
    * document sharing NO original term surfaces when it shares the
    * feedback set's vocabulary.
    *
    * Everything is index-only — the feedback pass, the term mining
    * (feedback doc ids broadcast ONTO the postings scan), and the
    * requery (the expanded set is DATA, so it rides the dynamic-term
    * batch [[lexical]] plan — on a partition-layout index the
    * requery DPP-prunes like any dynamic batch); no text is re-read
    * and nothing is collected to the driver. The MINING pass has two
    * forms: without `forwardDir` it reads the postings bytes once — a
    * token-ordered layout scatters the kFb feedback docs' rows across
    * every bucket, so doc-id pruning has nothing to prune, and a
    * deployment that expands every query pays a corpus-sized read per
    * batch. With `forwardDir` (a [[Index.ForwardSpec]] artifact over
    * the SAME corpus) the feedback docs' tf/dl mine from the doc-keyed
    * forward rows instead: the kFb ids broadcast onto the forward scan
    * and DPP prunes to their doc-shard directories — mining bytes
    * become O(kFb docs), independent of corpus size. Both forms
    * compute identical masses (forward tf is a recount of the same
    * token stream the postings aggregated), so the expansion — and the
    * final ranking — is the same. Output: (doc_id, n_terms, score)
    * top-k under the expanded query.
    */
  def rm3Expand(spark: SparkSession, indexDir: String, terms: Seq[String],
                k: Int, kFb: Int = 5, nExp: Int = 5,
                asOf: Option[Long] = None,
                forwardDir: Option[String] = None): DataFrame = {
    require(kFb > 0 && nExp >= 0, s"need kFb > 0, nExp >= 0")
    val fb = constraintFreeStage(
      lexTop(spark, Lexical(indexDir, asOf = asOf), Left(terms), kFb)
        .select(col("doc_id"), col("score")))
      // feeds the doc-set probe AND the score join — one probe, not two
    val mined = forwardDir match {
      case Some(fd) =>
        forwardFor(spark, fd, fb, Seq("dl", "toks"), asOf)
          .join(broadcast(fb), Seq("doc_id"))
          .select(col("doc_id"), col("dl"), col("score"),
            explode(col("toks")).as("tok"))
          .groupBy(col("doc_id"), col("dl"), col("score"), col("tok"))
          .agg(count(lit(1)).as("tf"))
      case None =>
        Versioned.read(spark, s"$indexDir/postings", asOf)
          .join(broadcast(fb), Seq("doc_id"))
    }
    val expansion = mined
      .filter(!col("tok").isInCollection(terms))
      .groupBy(col("tok"))
      .agg(sum(((col("tf").cast("double") / col("dl").cast("double")) *
        col("score")).cast("decimal(27,10)")).as("w"))
      .orderBy(col("w").desc, col("tok").asc)
      .limit(nExp)
    import spark.implicits._
    val expanded = expansion.select(col("tok"))
      .unionByName(terms.toDF("tok"))
      .agg(collect_set(col("tok")).as("terms"))
      .select(lit(0L).as("query_id"), col("terms"))
    // the expanded batch is ONE query, so its top-k is the global top-k
    // (TakeOrderedAndProject): a per-query window over its literal
    // query_id would lose its key to constant folding and run
    // unpartitioned
    topOf(lexScored(spark, Lexical(indexDir, asOf = asOf), Right(expanded))._1, Nil, k)
      .select(col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** RM3 expansion over the CHUNK-grain index — the machinery is
    * index-shape agnostic (feedback "documents" are chunks; mining runs
    * over the chunk postings, which is the index-only form — the
    * doc-grain forward index does not apply at ck grain), and the
    * composite key decodes to attributed spans: pseudo-relevance
    * feedback at the grain the RAG stack serves, where the synonym
    * bridge surfaces a SPAN sharing no original term. Output matches
    * a chunk-grain [[lexical]] request: (doc_id, chunk_start, n_terms,
    * score).
    */
  def rm3ExpandChunks(spark: SparkSession, indexDir: String,
                      terms: Seq[String], k: Int, kFb: Int = 5,
                      nExp: Int = 5, asOf: Option[Long] = None): DataFrame =
    decodeChunkKey(
      rm3Expand(spark, indexDir, terms, k, kFb, nExp, asOf))
      .orderBy(col("score").desc, col("doc_id").asc, col("chunk_start").asc)

  /** Exact-phrase search from the positional index: documents
    * containing the phrase as ADJACENT tokens in order, with occurrence
    * counts, ranked (n_occur desc, doc_id asc). Index-only — touches
    * the phrase terms' postings rows alone (token filter pushed to the
    * scan) and never re-reads text. Occurrence detection is the classic
    * positional intersection: positions(t₁) ∩ (positions(t₂) − 1) ∩ …
    * ∩ (positions(tₘ) − (m−1)) per document, m−1 equality joins on
    * doc_id over the pruned slices.
    */
  def phraseSearch(spark: SparkSession, indexDir: String,
                   phrase: Seq[String], k: Int,
                   asOf: Option[Long] = None): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    pinIndex(spark, indexDir, asOf): Unit
    val posts = Versioned.read(spark, s"$indexDir/postings", asOf)
    val partN =
      if (asOf.isEmpty && posts.columns.contains("tok_part"))
        Stamp.read(spark, indexDir, Stamp.TokParts)
      else None
    val slices = phrase.zipWithIndex.map { case (t, j) =>
      partN.fold(posts)(n =>
          posts.filter(col("tok_part") === lit(tokPartOf(t, n))))
        .filter(col("tok") === lit(t))
        .select(col("doc_id"),
          transform(col("positions"), p => p - j).as(s"p$j"))
    }
    val joined = slices.reduce((a, b) => a.join(b, Seq("doc_id")))
    val inter = (1 until phrase.length).foldLeft(col("p0"))((acc, j) =>
      array_intersect(acc, col(s"p$j")))
    tombGate(spark, indexDir,
        joined.select(col("doc_id"), size(inter).cast("long").as("n_occur")),
        "doc_id")
      .filter(col("n_occur") > 0)
      .orderBy(col("n_occur").desc, col("doc_id").asc)
      .limit(k)
  }

  // ------------------------------------------------- chunk-grain (RAG)

  /** Chunk-grain BM25 — the RAG retrieval unit: documents are chunked
    * into size/stride token windows ([[Corpus.chunk]] — map-side only)
    * and ranked at CHUNK grain, so a hit is a context-window-sized
    * span with doc attribution, not a whole document whose relevant
    * paragraph is buried in unrelated length. This is a GRAIN change,
    * not new machinery: chunks are short documents whose key encodes
    * (doc_id, chunk_start); dl = chunk length, idf = chunk frequency —
    * the convention RAG stacks score under. stride &lt; size gives
    * overlapping windows (adjacent spans may co-rank; dedup downstream
    * if the consumer needs disjoint context).
    *
    * The composite key is doc_id·2³² + chunk_start, decoded by bit
    * ops (not double division — a key near 2⁶³ would lose precision);
    * an in-plan guard refuses doc_id ≥ 2³¹ or a chunk_start ≥ 2³²
    * loudly instead of silently mis-attributing spans.
    *
    * Output: (doc_id, chunk_start 1-based, n_terms, score), top-k by
    * (score desc, doc_id asc, chunk_start asc).
    */
  private val ChunkKeyBase = 1L << 32

  /** Chunk windows keyed for retrieval: ck = doc_id·2³² + chunk_start,
    * guarded in-plan against the overflow range. Shared by the inline
    * ranker and the persisted-index builder.
    */
  private[operators] def chunkKeyed(docs: DataFrame, id: Column, text: Column,
                         size: Int, stride: Int,
                         metaCols: Seq[String] = Nil): DataFrame = {
    val chunked = Corpus.chunk(docs, id, text, size, stride)
      .filter(assert_true(
        col("doc_id") >= 0 && col("doc_id") < lit(1L << 31) &&
          col("chunk_start") < lit(ChunkKeyBase),
        lit(s"chunk key overflow: need 0 <= doc_id < 2^31 and chunk_start " +
          "< 2^32 for span-exact attribution (negative ids would decode " +
          "to the wrong span)")).isNull)
    // a chunk inherits its document's metadata (the filtered-search
    // gate columns) — one build-cadence equality join by doc id
    val withM =
      if (metaCols.isEmpty) chunked
      else chunked.join(
        docs.select((id.as("doc_id") +: metaCols.map(col)): _*), Seq("doc_id"))
    withM.select(((col("doc_id") * lit(ChunkKeyBase) + col("chunk_start"))
      .as("ck") +: col("chunk_text") +: metaCols.map(col)): _*)
  }

  /** Decode (doc_id, chunk_start) off a ranking whose doc_id column
    * carries the composite ck, in place (every other column kept in
    * order) — bit ops, not double division (a key near 2⁶³ would round).
    */
  private def decodeChunkKey(ranked: DataFrame): DataFrame =
    ranked.select(ranked.columns.toSeq.flatMap {
      case "doc_id" => Seq(shiftright(col("doc_id"), 32).as("doc_id"),
        col("doc_id").bitwiseAND(lit(ChunkKeyBase - 1)).as("chunk_start"))
      case c => Seq(col(c))
    }: _*)

  def chunkBm25TopK(docs: DataFrame, id: Column, text: Column,
                    terms: Seq[String], k: Int, size: Int,
                    stride: Int): DataFrame =
    decodeChunkKey(bm25TopK(chunkKeyed(docs, id, text, size, stride),
      col("ck"), col("chunk_text"), terms, k))

  /** [[heavyTokens]] at CHUNK grain — df counts chunks containing the
    * token (what the chunk index's postings lists are sized by), over
    * the same window grid the index will use. The stop-set derivation
    * for a df-capped chunk-grain [[Index.Bm25Spec]] build.
    */
  def heavyChunkTokens(docs: DataFrame, id: Column, text: Column,
                       size: Int, stride: Int,
                       maxDfRatio: Double): DataFrame =
    heavyTokens(chunkKeyed(docs, id, text, size, stride),
      col("ck"), col("chunk_text"), maxDfRatio)

  /** The grid kind of the chunk BM25 index (the chunk ANN kind shares
    * its file name). */
  private val lexGrid = Stamp.chunkGrid("postings")

  /** The build-time window grid of a chunk-grain index, trusted ONLY
    * when its stamp matches the postings' current overwrite snapshot.
    * Fails loudly on: a plain BM25 index (no sidecar — appending
    * document text to a chunk index or vice versa is the
    * silent-corruption path this closes), a sidecar truncated by a
    * crashed write, or a stamp from a superseded build/compaction (a
    * rebuild or compact died between its two writes) — each with the
    * recovery spelled out instead of mis-chunked spans.
    */
  def chunkGrid(spark: SparkSession, indexDir: String,
                stampTable: String = "postings"): (Int, Int) = {
    val k = Stamp.chunkGrid(stampTable)
    Stamp.read(spark, indexDir, k).getOrElse {
      require(Stamp.exists(spark, indexDir, k), s"$indexDir carries no " +
        s"${k.name} sidecar — not a chunk-grain index (or a pre-grid " +
        "build); rebuild with Index.build at Chunks grain")
      val v = Stamp.recorded(spark, indexDir, k).map(_._2).getOrElse(
        sys.error(s"$indexDir ${k.name} sidecar is corrupt — a crashed " +
          "write; rebuild the index"))
      throw new IllegalArgumentException(s"$indexDir ${k.name} stamp v$v " +
        s"does not match the $stampTable table's current overwrite " +
        "snapshot — a rebuild or compaction died between its index " +
        "commit and the grid stamp, so the recorded grid cannot be " +
        "trusted to describe the current build; rebuild the index")
    }
  }

  // ------------------------------------------------------------ fusion

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse N per-query rankings into one by score(q,d) =
    * Σ_rankers 1/(c + rank_r(q,d)), summing over the rankers that
    * returned d for q (c = 60, the published constant). RRF is the
    * standard way to combine rankers whose scores are NOT commensurate
    * — BM25 log-odds sums vs cosine similarities — because only ranks
    * enter the formula.
    *
    * Determinism: within each input ranking, ranks are row_number over
    * (score desc, doc_id asc); the fused sum rides DECIMAL(27,10)
    * (order-independent — each term 1/(c+r) is one double division,
    * identical cross-engine); fused ties break doc_id asc. So the
    * fusion replays exactly in SQL whenever its input rankings do.
    *
    * Scale shape: every input is already a per-query top-k (k rows per
    * query per ranker, NOT corpus-sized), so the windows, the union,
    * and the (query_id, doc_id) aggregation all move O(|Q|·k·N) rows —
    * fusion cost is independent of corpus size by construction.
    *
    * Input rankings: (query_id, doc_id, score). Output:
    * (query_id, doc_id, n_rankers, rrf), top-k per query.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(c >= 0, s"rrf constant must be non-negative, got $c")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val contribs = rankings.map { r =>
      r.select(col("query_id"), col("doc_id"), col("score"))
        .withColumn("rn", row_number().over(w))
        .select(col("query_id"), col("doc_id"),
          (lit(1.0) / (lit(c) + col("rn"))).cast("decimal(27,10)").as("rw"))
    }.reduce(_.unionByName(_))
    val fused = contribs.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_rankers"),
        sum(col("rw")).cast("double").as("rrf"))
    Ranking.topPerGroup(fused, Seq(col("query_id")),
        Seq(col("rrf").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("doc_id"), col("n_rankers"), col("rrf"))
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
  }

  /** A HYBRID retrieval request: the lexical index (BM25 arm, plus the
    * optional Dirichlet QL arm over the same postings slice), ONE
    * semantic arm, and the optional maxsim arm. Each index pins its own
    * version (`bm25AsOf`, the semantic arm's `asOf`), so a fused result
    * reproduces against any historical (lexical, semantic) index pair
    * after appends or rebuilds on either side. A new fusion
    * composition is a value of this type, planned by [[hybrid]].
    *
    * @param ql        the QL arm's Dirichlet `mu`, when requested
    * @param maxSim    the late-interaction arm's corpus: re-ranks the PQ
    *                  arm's shortlist at chunk grain
    * @param predicate ONE metadata gate on every arm (the BM25 arm gates
    *                  inside its token-pruned postings scan, the vector
    *                  arm inside its probed buckets, each before its
    *                  top-kEach); it resolves against each index's own
    *                  baked columns, and an index missing them refuses
    * @param kEach     per-arm ranking depth handed to [[rrfFuse]]
    * @param c         the RRF constant
    */
  final case class Hybrid(bm25Dir: String, sem: SemanticArm,
                          bm25AsOf: Option[Long] = None,
                          ql: Option[Double] = None,
                          maxSim: Option[MaxSim] = None,
                          predicate: Option[Column] = None,
                          kEach: Int = 20, c: Int = 60) {
    /** This request with both indexes pinned ([[pinIndex]]): a latest
      * read becomes the version its tables share now. */
    def pinned(spark: SparkSession): Hybrid =
      copy(bm25AsOf = Some(pinIndex(spark, bm25Dir, bm25AsOf)),
        sem = sem.at(pinIndex(spark, sem.dir, sem.asOf)))
  }

  /** One persisted ANN index as a probe arm — the vector family's
    * request value, planned by [[Similarity.probe]] alone or as the
    * semantic arm of a [[Hybrid]] request. `score` names the column the
    * arm ranks by. */
  sealed trait SemanticArm {
    def dir: String
    def asOf: Option[Long]
    def nProbes: Int
    def at(version: Long): SemanticArm
    def score: String
  }

  /** The float IVF index ([[ivfBuild]]): cosine `sim`
    * over the `nProbes` probed buckets. */
  final case class Ivf(dir: String, nProbes: Int = 4,
                       asOf: Option[Long] = None) extends SemanticArm {
    def at(version: Long): Ivf = copy(asOf = Some(version))
    def score: String = "sim"
  }

  /** The SQ8 IVF index ([[Similarity.buildIvfSq8Index]]): probe selection
    * in full precision, queries quantized on the index's stored scale,
    * the probed buckets scored on the exact INTEGER code dot `qdot`. */
  final case class Sq8(dir: String, nProbes: Int = 4,
                       asOf: Option[Long] = None) extends SemanticArm {
    def at(version: Long): Sq8 = copy(asOf = Some(version))
    def score: String = "qdot"
  }

  /** The COMPRESSED IVF-PQ index ([[Index.PqSpec]]): the
    * ADC scan of the probed buckets' code rows (`pqdot`), and with
    * `alpha = Some(a)` the exact re-rank: the ADC scan shortlists k·a
    * candidates per query at code-width bytes, and the exact `dot`
    * re-scores only the shortlist from the index's own full-precision
    * vectors (DPP-fetched, never a corpus scan). `alpha` is the recall
    * dial; `m`/`ks`/`dim`/`residual` must match the build. */
  final case class Pq(dir: String, alpha: Option[Int] = Some(4),
                      nProbes: Int = 4, m: Int = 8, ks: Int = 16,
                      dim: Int = 64, residual: Boolean = false,
                      asOf: Option[Long] = None) extends SemanticArm {
    def at(version: Long): Pq = copy(asOf = Some(version))
    def score: String = if (alpha.isEmpty) "pqdot" else "dot"
  }

  /** The maxsim arm's corpus ([[maxSimRerankChunks]]): the documents
    * whose shortlisted chunks re-window on the index's own grid. */
  final case class MaxSim(docs: DataFrame, id: Column, text: Column)

  /** Plan a [[Hybrid]] request over a query batch (query_id, terms
    * array<string>, vec array<float|double>, embedded by the index's
    * encoder): every arm answers independently with its per-query
    * top-kEach, unsorted, and [[rrfFuse]] fuses them. RRF is rank-only,
    * so incommensurate scales (log-odds, log-likelihood, cosine, dot,
    * summed cosine) never need calibration; n_rankers counts the arms
    * that found a row.
    *
    * Grain comes from the index pair's own chunk_grid sidecars (file
    * reads, no Spark job): both doc grain, output (query_id, doc_id,
    * n_rankers, rrf); or both chunk grain on ONE window grid, fused at
    * composite-key grain (a lexical and a semantic hit of the same span
    * fuse) and decoded to (query_id, doc_id, chunk_start, n_rankers,
    * rrf) — spans from different grids never align, so any other pair
    * refuses. Output is top-k per query, ordered by (query_id, rrf
    * desc, doc_id[, chunk_start]).
    *
    * The maxsim arm re-ranks the PQ arm's shortlist: one PQ
    * probe+rerank, staged once, feeds both semantic arms (a duplicated
    * probe subtree was the largest cost of the four-arm composition).
    * The QL and maxsim arms cannot gate, so a predicate refuses them.
    *
    * Scale shape: each arm pays only its own probe (postings pruned by
    * token, buckets pruned by centroid); fusion adds O(|Q|·kEach).
    */
  def hybrid(spark: SparkSession, req: Hybrid, queries: DataFrame,
             k: Int): DataFrame = {
    require(req.predicate.isEmpty || (req.ql.isEmpty && req.maxSim.isEmpty),
      "the QL and maxsim arms cannot gate: a predicate fuses only the " +
        "BM25 and vector arms")
    req.maxSim.foreach(_ => requirePqShortlist(req.sem))
    val chunked = chunkPair(spark, req.bm25Dir, req.sem.dir)
    val terms = queries.select(col("query_id"), col("terms"))
    def lexArm(lx: Lexical) = lexTop(spark, lx, Right(terms), req.kEach)
      .select(col("query_id"), col("doc_id"), col("score"))
    val lex = lexArm(Lexical(req.bm25Dir, predicate = req.predicate,
      asOf = req.bm25AsOf))
    val ql = req.ql.map(mu =>
      lexArm(Lexical(req.bm25Dir, Some(mu), asOf = req.bm25AsOf)))
    val top = Similarity.probeTop(spark, req.sem,
      queries.select(col("query_id").as("id"), col("vec")), req.kEach,
      req.predicate.fold[Similarity.Gate](Similarity.Ungated)(Similarity.Where))
    val shortlist =
      if (req.maxSim.isEmpty) top else top.localCheckpoint(eager = false)
    val sem = shortlist.select(col("query_id"), col("cand_id").as("doc_id"),
      col(req.sem.score).as("score"))
    val msim = req.maxSim.map(ms => maxSimScoresFrom(spark, req.sem.dir,
      ms, queries, shortlist.select(col("query_id"), col("cand_id").as("ck"))))
    val fused = rrfFuse(Seq(lex) ++ ql ++ Seq(sem) ++ msim, k, req.c)
    if (!chunked) fused
    else decodeChunkKey(fused).orderBy(col("query_id"), col("rrf").desc,
      col("doc_id"), col("chunk_start"))
  }

  /** The maxsim arm re-ranks a PQ arm's shortlist (the arm that carries
    * the chunk-grain compressed index); any other arm refuses. */
  private def requirePqShortlist(arm: SemanticArm): Unit =
    require(arm.isInstanceOf[Pq],
      "the maxsim arm re-ranks the PQ arm's shortlist: request a Pq arm")

  /** True when a fusion pair is chunk grain; refuses a doc/chunk pair
    * and two chunk grids that disagree. */
  private def chunkPair(spark: SparkSession, lexDir: String,
                        semDir: String): Boolean = {
    val chunked = hasChunkGrid(spark, lexDir)
    require(chunked == hasChunkGrid(spark, semDir), s"index grains " +
      s"disagree: $lexDir is ${if (chunked) "chunk" else "doc"} grain, " +
      s"$semDir is not — build both indexes at one grain")
    if (chunked) {
      val gridLex = chunkGrid(spark, lexDir)
      val gridSem = chunkGrid(spark, semDir, stampTable = "assignment")
      require(gridLex == gridSem, s"chunk index grids disagree: BM25 " +
        s"$gridLex vs ANN $gridSem — spans from different grids never " +
        "align; rebuild one index on the other's grid")
    }
    chunked
  }

  /** The doc-grain BM25 + float IVF request ([[hybrid]]). */
  def hybridSearch(spark: SparkSession, bm25Dir: String, ivfDir: String,
                   queries: DataFrame, k: Int, kEach: Int = 20,
                   nProbes: Int = 4, c: Int = 60,
                   bm25AsOf: Option[Long] = None,
                   ivfAsOf: Option[Long] = None): DataFrame =
    hybrid(spark, Hybrid(bm25Dir, Ivf(ivfDir, nProbes, ivfAsOf), bm25AsOf,
      kEach = kEach, c = c), queries, k)

  /** A document batch as chunk-grain ANN rows (id = ck, vec, gate
    * columns): chunked on the grid, each chunk embedded
    * ([[Corpus.hashEmbed]]), and each chunk carrying its document's
    * gate columns (chunkKeyed inherited them) so the filtered probe
    * gates spans inside the probed buckets. */
  private[operators] def chunkVecs(docs: DataFrame, id: Column, text: Column,
                        size: Int, stride: Int, dim: Int,
                        metaCols: Seq[String]): DataFrame = {
    val chunked = chunkKeyed(docs, id, text, size, stride, metaCols)
    val vecs = Corpus.hashEmbed(chunked, col("ck"), col("chunk_text"), dim)
    if (metaCols.isEmpty) vecs
    else vecs.join(
      chunked.select((col("ck").as("id") +: metaCols.map(col)): _*), Seq("id"))
  }

  /** LATE-INTERACTION (multi-vector) re-rank — ColBERT's maxsim
    * (Khattab & Zaharia, SIGIR 2020) bounded to the serving shape a
    * 100 TB pipeline can afford: single-vector ANN recalls a shortlist
    * cheaply, then ONLY the |Q|·kEach shortlist pays token-level
    * interaction — maxsim(q, c) = Σ_{query token} max_{chunk token}
    * cos(tokvec_q, tokvec_c) — never the corpus. Token vectors are
    * deterministic character-trigram hash embeddings
    * ([[Corpus.charTrigramEmbed]] — the SQL-replayable stand-in for
    * per-token neural vectors), derived on demand for the shortlist's
    * chunks alone: the shortlist's doc ids broadcast-semi-join the
    * corpus (DPP-prunable, bounded), those docs re-window on the
    * index's OWN grid, and everything downstream is
    * shortlist × query-token sized equality joins. Per-(query, chunk,
    * query-token) maxes are order-independent; the final sum runs in
    * DECIMAL(27,10) so the score replays exactly cross-engine.
    *
    * The shortlist is the `arm`'s top-kEach ([[Similarity.probeTop]]);
    * only a [[Pq]] arm (the chunk-grain compressed index) can carry it.
    * Output: (query_id, doc_id, chunk_start, maxsim) — top `k` per
    * query, span-exact attribution like every chunk server here.
    */
  def maxSimRerankChunks(spark: SparkSession, arm: SemanticArm,
                         ms: MaxSim, queries: DataFrame, k: Int,
                         kEach: Int = 20): DataFrame = {
    requirePqShortlist(arm)
    val short = Similarity.probeTop(spark, arm,
        queries.select(col("query_id").as("id"), col("vec")), kEach,
        Similarity.Ungated)
      .select(col("query_id"), col("cand_id").as("ck"))
      .localCheckpoint(eager = false) // feeds doc fetch + the pair join
    decodeChunkKey(Ranking.topPerGroup(
        maxSimScoresFrom(spark, arm.dir, ms, queries, short),
        Seq(col("query_id")), Seq(col("score").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("doc_id"), col("score").as("maxsim")))
      .orderBy(col("query_id"), col("maxsim").desc, col("doc_id"),
        col("chunk_start"))
  }

  /** The maxsim scores (query_id, doc_id = ck, score) — the [[rrfFuse]]
    * input shape shared with the other arms — over a CALLER-STAGED
    * shortlist (query_id, ck): the seam that lets [[hybrid]]'s maxsim
    * arm run the PQ probe ONCE and feed both the PQ arm and the maxsim
    * arm from the same staged rows, instead of evaluating the identical
    * probe subtree twice per serve call. The shortlist must be staged
    * (checkpointed) by the caller: it feeds the doc fetch, the chunk
    * semi-join and the pair join below.
    */
  private def maxSimScoresFrom(spark: SparkSession, chunkPqDir: String,
                               ms: MaxSim, queries: DataFrame,
                               short: DataFrame): DataFrame = {
    val MaxSim(docs, id, text) = ms
    val (size, stride) = chunkGrid(spark, chunkPqDir,
      stampTable = "assignment")
    // ONLY the shortlist's documents re-window — never the corpus
    val docIds = short.select(shiftright(col("ck"), 32).as("__d")).distinct()
    val shortDocs = docs.join(broadcast(docIds), id === col("__d"),
      "left_semi")
    val ctoks = chunkKeyed(shortDocs, id, text, size, stride)
      .join(broadcast(short.select(col("ck")).distinct()), Seq("ck"),
        "left_semi")
      .select(col("ck"),
        explode(graft.functions.TextOps.tokens(col("chunk_text")))
          .as("tok"))
      .distinct() // maxes over duplicate tokens are identical
    val qtoks = queries
      .select(col("query_id"), explode(col("terms")).as("tok")).distinct()
    val vocab = ctoks.select(col("tok"))
      .unionByName(qtoks.select(col("tok"))).distinct()
    // the vocabulary is shortlist-token-bounded — broadcast it onto
    // both token streams (statless plans otherwise SMJ these tiny sides)
    val tv = Corpus.charTrigramEmbed(vocab, col("tok"), dim = 64)
      .localCheckpoint(eager = false) // joined on both sides of the pair
    val qv = qtoks.join(broadcast(tv), Seq("tok"))
      .select(col("query_id"), col("tok").as("qtok"),
        col("vec").as("qtv"), col("nsq").as("qnsq"))
    val cv = ctoks.join(broadcast(tv), Seq("tok"))
      .select(col("ck"), col("vec").as("ctv"), col("nsq").as("cnsq"))
    // the shortlist itself is |Q|·kEach rows — broadcast it onto the
    // (larger) chunk-token stream
    cv.join(broadcast(short), Seq("ck"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", graft.functions.VectorOps.cosineWithNorms(
        col("qtv"), col("ctv"), col("qnsq"), col("cnsq")))
      .groupBy(col("query_id"), col("ck"), col("qtok"))
      .agg(max(col("cos")).as("mxc"))
      .groupBy(col("query_id"), col("ck"))
      .agg(sum(col("mxc").cast("decimal(27,10)")).cast("double")
        .as("score"))
      .select(col("query_id"), col("ck").as("doc_id"), col("score"))
  }

  /** RAG context assembly over a fused chunk ranking — the step between
    * retrieval and the prompt: per query,
    *
    *  1. CAP chunks per document at `maxPerDoc` (diversity — one
    *     rambling document cannot monopolize the context),
    *  2. MERGE overlapping/adjacent co-ranked spans into maximal spans
    *     (stride < size makes neighbors co-rank; the consumer wants
    *     each passage once, not k shifted copies),
    *  3. CLIP span ends to the document's real token length (the last
    *     window is shorter than `size`),
    *  4. PACK the ranking prefix into `budget` tokens in (score desc,
    *     doc, start) order — the TOP context that fits, not a
    *     bin-packing of leftovers: the first span that would overflow
    *     the budget cuts the context off.
    *
    * Everything is windows + one broadcast length join: the fused
    * ranking is O(|Q|·k) rows, so assembly cost is independent of
    * corpus size; the length join broadcasts the SPANS onto the corpus
    * scan, never the reverse.
    *
    * Input: (query_id, doc_id, chunk_start, rrf) + the corpus for
    * lengths; `size` must be the retrieval grid's window size. Output:
    * (query_id, doc_id, span_start, span_end, n_chunks, score,
    * cum_tok), ordered (query_id, score desc, doc, start).
    */
  def assembleContext(fused: DataFrame, docs: DataFrame, id: Column,
                      text: Column, size: Int, budget: Int,
                      maxPerDoc: Int = 4): DataFrame =
    assembleWith(fused,
      docs.select(id.as("doc_id"),
        org.apache.spark.sql.functions.size(TextOps.tokens(text))
          .cast("long").as("__n_tok")),
      size, budget, maxPerDoc)

  /** [[assembleContext]] clipping from the doc-keyed FORWARD index
    * instead of tokenizing the corpus — the serve-path form: the
    * corpus-scan variant recomputes every document's token length per
    * serving batch just to clip O(|Q|·k) spans, which at 100 TB makes
    * every RAG query batch pay a full-corpus read+tokenize. Here the
    * fused ranking's doc set broadcast-joins ONTO the forward scan, so
    * (a) parquet column pruning reads only the (doc_id, dl) bytes —
    * never the token arrays — and (b) on a trusted doc_parts sidecar
    * the join carries the shard key and Spark DPP prunes unprobed
    * doc-shard DIRECTORIES: the clip reads ~|docs(fused)|/nPartDirs of
    * the length bytes, independent of corpus size. Output is
    * row-identical to [[assembleContext]] over the corpus the index
    * was built from.
    */
  def assembleContextIndexed(spark: SparkSession, fused: DataFrame,
                             forwardDir: String, size: Int, budget: Int,
                             maxPerDoc: Int = 4,
                             asOf: Option[Long] = None): DataFrame = {
    // the fused ranking feeds both the doc-set probe and the span
    // windows — stage it so the second consumer does not replay the
    // whole hybrid search lineage (constraint-free: see
    // [[constraintFreeStage]])
    val f = constraintFreeStage(fused)
    assembleWith(f,
      forwardFor(spark, forwardDir, f, Seq("dl"), asOf)
        .select(col("doc_id"), col("dl").as("__n_tok")),
      size, budget, maxPerDoc)
  }

  private def assembleWith(fused: DataFrame, lengths: DataFrame, size: Int,
                           budget: Int, maxPerDoc: Int): DataFrame = {
    require(budget > 0)
    val W = org.apache.spark.sql.expressions.Window
    val wPack = W.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc, col("span_start").asc)
      .rowsBetween(W.unboundedPreceding, 0)
    clippedSpans(fused, lengths, size, maxPerDoc)
      .withColumn("cum_tok",
        sum(col("span_end") - col("span_start") + 1).over(wPack))
      .filter(col("cum_tok") <= budget)
      .select(col("query_id"), col("doc_id"), col("span_start"),
        col("span_end"), col("n_chunks"), col("score"), col("cum_tok"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"),
        col("span_start"))
  }

  /** Steps 1–3 of context assembly (cap → merge → clip), shared by the
    * whitespace-budget and model-token-budget packers. Output:
    * (query_id, doc_id, span_start, span_end, n_chunks, score).
    */
  private def clippedSpans(fused: DataFrame, lengths: DataFrame, size: Int,
                           maxPerDoc: Int): DataFrame = {
    require(size > 0 && maxPerDoc > 0)
    val W = org.apache.spark.sql.expressions.Window
    val capped = fused
      .withColumn("__r", row_number().over(
        W.partitionBy(col("query_id"), col("doc_id"))
          .orderBy(col("rrf").desc, col("chunk_start").asc)))
      .filter(col("__r") <= maxPerDoc)
    // interval merge: a chunk opens a new span iff it starts past every
    // prior chunk's end + 1 (adjacent spans concatenate seamlessly —
    // merge them too); group id = running count of span-opens
    val wOrd = W.partitionBy(col("query_id"), col("doc_id"))
      .orderBy(col("chunk_start").asc)
    val spans = capped
      .withColumn("__end", col("chunk_start") + lit(size.toLong - 1))
      .withColumn("__pmax", max(col("__end")).over(
        wOrd.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("chunk_start") > col("__pmax") + 1,
          lit(1)).otherwise(lit(0)))
      .withColumn("__grp", sum(col("__new")).over(
        wOrd.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("query_id"), col("doc_id"), col("__grp"))
      .agg(min(col("chunk_start")).as("span_start"),
        max(col("__end")).as("__span_end0"),
        count(lit(1)).as("n_chunks"),
        max(col("rrf")).as("score"))
    // a span starting past its document's end means the fused ranking
    // and the corpus DISAGREE (stale index, wrong corpus): refuse
    // loudly — clipping it would yield a negative-length span whose
    // negative token count silently corrupts the budget accounting
    lengths.join(broadcast(spans), Seq("doc_id"))
      .filter(assert_true(col("span_start") <= col("__n_tok"),
        lit("context span starts past its document's end — the fused " +
          "ranking and the corpus disagree (stale chunk index or wrong " +
          "corpus); rebuild the index against this corpus")).isNull)
      .select(col("query_id"), col("doc_id"), col("span_start"),
        least(col("__span_end0"), col("__n_tok")).as("span_end"),
        col("n_chunks"), col("score"))
  }

  /** [[assembleContextIndexed]] with the budget counted in MODEL tokens
    * — the unit the context's consumer is actually provisioned in: a
    * prompt mounts into a model whose window is a BPE-id budget, and
    * whitespace counts mis-provision it (the q165 lesson — whitespace
    * and BPE ids diverge per document, so a whitespace-packed context
    * can overflow the model or waste window). Steps 1–3 (cap → merge →
    * clip) are identical; step 4 fetches each clipped span's text from
    * the forward index (DPP-pruned — O(|Q|·k) spans), counts it in
    * MODEL tokens under the persisted tokenizer (`modelAsOf` pins a
    * historical version, so a packed context reproduces bit-for-bit
    * across a retrain), and packs the ranking prefix into `budget` ids.
    * Caveat stated honestly: a char-level model drops words absent from
    * its type table (undercounting them); the byte-level model is the
    * no-OOV form this budget is exact under. Output: (query_id, doc_id,
    * span_start, span_end, n_chunks, score, n_model_tok, cum_tok) with
    * cum_tok in model tokens.
    */
  def assembleContextModelTokens(spark: SparkSession, fused: DataFrame,
                                 forwardDir: String, modelDir: String,
                                 size: Int, budget: Int, maxPerDoc: Int = 4,
                                 byteLevel: Boolean = false,
                                 modelAsOf: Option[Long] = None,
                                 asOf: Option[Long] = None): DataFrame = {
    require(budget > 0)
    val W = org.apache.spark.sql.expressions.Window
    val f = constraintFreeStage(fused)
    val lengths = forwardFor(spark, forwardDir, f, Seq("dl"), asOf)
      .select(col("doc_id"), col("dl").as("__n_tok"))
    // the clipped span set feeds the text fetch AND the final output —
    // stage it so the windows' lineage is not replayed per consumer
    // (constraint-free: its SECOND forward probe needs its own guard)
    val spans = constraintFreeStage(clippedSpans(f, lengths, size, maxPerDoc))
    // each span's text off the forward index (slice is map-side), then
    // its MODEL-token count: spans are documents at span grain to the
    // tokenizer — the span key rides through the count as a struct id
    val texts = contextWith(spans
        .select(col("query_id"), col("doc_id"), col("span_start"),
          col("span_end"), col("score")),
      forwardFor(spark, forwardDir, spans, Seq("toks"), asOf)
        .select(col("doc_id"), col("toks").as("__toks")))
    val counted = graft.operators.Bpe.tokenCountsWithModel(spark, modelDir,
        texts.withColumn("__sk", struct(col("query_id"), col("doc_id"),
          col("span_start"))),
        col("__sk"), col("span_text"), byteLevel, modelAsOf)
      .select(col("doc_id")("query_id").as("query_id"),
        col("doc_id")("doc_id").as("doc_id"),
        col("doc_id")("span_start").as("span_start"),
        col("n_tok").as("n_model_tok"))
    val wPack = W.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc, col("span_start").asc)
      .rowsBetween(W.unboundedPreceding, 0)
    spans.join(broadcast(counted), Seq("query_id", "doc_id", "span_start"))
      .withColumn("cum_tok", sum(col("n_model_tok")).over(wPack))
      .filter(col("cum_tok") <= budget)
      .select(col("query_id"), col("doc_id"), col("span_start"),
        col("span_end"), col("n_chunks"), col("score"),
        col("n_model_tok"), col("cum_tok"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"),
        col("span_start"))
  }

  /** Materialize packed spans as the STRINGS a prompt mounts — the last
    * step of the RAG pipeline ([[assembleContext]] emits coordinates;
    * this fetches the text): one equality join with the spans broadcast
    * ONTO the corpus scan (never the reverse — the span set is
    * O(|Q|·k) rows), then a map-side token slice per span (the
    * `Corpus.packedSequenceTexts` discipline at span grain). Output:
    * (query_id, doc_id, span_start, span_end, score, span_text),
    * ordered (query_id, score desc, doc, start) — concatenating
    * span_text per query in row order IS the context window.
    */
  def contextTexts(packed: DataFrame, docs: DataFrame, id: Column,
                   text: Column): DataFrame =
    contextWith(packed,
      docs.select(id.as("doc_id"), TextOps.tokens(text).as("__toks")))

  /** [[contextTexts]] sliced from the doc-keyed FORWARD index instead
    * of re-tokenizing the corpus — the serve-path form: the packed
    * spans' doc set broadcast-joins ONTO the forward scan, DPP-pruning
    * to the spans' doc-shard directories (trusted sidecar), so a
    * serving batch reads the token bytes of the documents it mounts,
    * not the corpus. Row-identical to [[contextTexts]] over the corpus
    * the index was built from.
    */
  def contextTextsIndexed(spark: SparkSession, packed: DataFrame,
                          forwardDir: String,
                          asOf: Option[Long] = None): DataFrame = {
    val p = constraintFreeStage(packed)
    contextWith(p, forwardFor(spark, forwardDir, p, Seq("toks"), asOf)
      .select(col("doc_id"), col("toks").as("__toks")))
  }

  private def contextWith(packed: DataFrame, toks: DataFrame): DataFrame =
    toks.join(broadcast(packed), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("span_start"),
        col("span_end"), col("score"),
        array_join(slice(col("__toks"), col("span_start").cast("int"),
          (col("span_end") - col("span_start") + 1).cast("int")), " ")
          .as("span_text"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"),
        col("span_start"))

  // ------------------------------------------- doc-keyed forward index

  /** Build the doc-keyed FORWARD index — the inverse layout of the
    * inverted index, and the serve-path complement the RAG stack reads
    * BY DOCUMENT: one row per document (doc_id, dl, toks), landed in
    * doc-shard DIRECTORIES (doc_part = doc_id mod nPartDirs) so a
    * bounded doc set — packed context spans, RM3 feedback docs —
    * broadcast-joins onto the scan and Spark DPP prunes every unprobed
    * shard's bytes. A token-ordered (inverted) layout scatters one
    * document's data across every bucket, so doc-keyed reads there are
    * corpus-sized no matter how small the doc set; this layout is the
    * q162 lesson applied to the serving side. The shard modulus
    * persists in a version-stamped `doc_parts` sidecar (the tok_parts
    * discipline); parquet column pruning means a length-only consumer
    * ([[assembleContextIndexed]]) never reads the token arrays.
    */
  private[operators] def fwdBuild(docs: DataFrame, id: Column, text: Column,
                                  indexDir: String, nPartDirs: Int): Long = {
    require(nPartDirs >= 0, s"need nPartDirs >= 0 (0 = auto), got $nPartDirs")
    val n = if (nPartDirs > 0) nPartDirs else autoDocShards(docs.count())
    val v = Versioned.overwritePartitioned(fwdRows(docs, id, text, n),
      s"$indexDir/fwd", "doc_part")
    Stamp.write(docs.sparkSession, indexDir, Stamp.DocParts, n, v)
    v
  }

  /** Forward rows (doc_id, dl, toks, doc_part) on doc-shard modulus `n`. */
  private def fwdRows(docs: DataFrame, id: Column, text: Column,
                      n: Int): DataFrame =
    docs.select(id.as("doc_id"), TextOps.tokens(text).as("toks"))
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(col("toks")).cast("long").as("dl"),
        col("toks"),
        pmod(col("doc_id"), lit(n.toLong)).as("doc_part"))

  /** Auto-sized doc_part modulus: ~64 documents of token arrays per
    * shard directory (a few hundred KB — shard bytes, not shard count,
    * is what a probe pays), capped at 4096 directories so a huge corpus
    * does not explode file listings (past the cap, shards fatten with
    * the corpus and the probe still reads ≤ |docSet|/4096 of it). A
    * FIXED modulus makes probed bytes grow linearly with the corpus (a
    * probed shard is read whole, and shards fatten as the corpus grows
    * — the r12 rag_serve residual slope); sizing it from the corpus
    * count at build, and re-deriving at [[fwdCompact]], keeps
    * shard bytes — and therefore a fixed serving batch's read — flat.
    */
  private[operators] def autoDocShards(count: Long): Int =
    math.max(4L, math.min(4096L, (count + 63L) / 64L)).toInt

  /** Append a batch of NEW documents to the forward index (the daily
    * cadence; doc_ids must be previously unseen — the append-only
    * invariant every index here shares). The shard modulus comes from
    * the index's own sidecar, never the caller; appends keep the
    * partitioned layout and the stamp stays valid (appends never move
    * the overwrite snapshot it tracks).
    */
  private[operators] def fwdAppend(batch: DataFrame, id: Column, text: Column,
                                   indexDir: String): Long = {
    val n = Stamp.read(batch.sparkSession, indexDir, Stamp.DocParts)
      .getOrElse(sys.error(s"$indexDir forward index's " +
        s"${Stamp.DocParts.name} sidecar is absent or stale (a rebuild " +
        s"crashed between its commit and the stamp) — ${Index.Forward.artifact.remedy}"))
    Versioned.appendPartitioned(fwdRows(batch, id, text, n), s"$indexDir/fwd",
      "doc_part")
  }

  /** Compact the forward index's per-append files and RE-STAMP the
    * doc_parts sidecar. On a trusted sidecar the compaction RE-DERIVES
    * the shard modulus from the grown corpus (a compaction rewrites the
    * snapshot anyway, so the re-shard is free — [[autoDocShards]] keeps
    * probed shard bytes flat as appends accumulate). An untrusted
    * sidecar falls back to a plain layout-preserving compact with the
    * stamp left stale ([[Index.repair]] recovers it). The modulus
    * is read-validated BEFORE any rewrite moves the stamp.
    */
  private[operators] def fwdCompact(spark: SparkSession, indexDir: String): Long =
    Stamp.read(spark, indexDir, Stamp.DocParts) match {
      case Some(_) =>
        // tombstoned documents drop from the rewrite (single table — no
        // stats to correct, no lockstep partner; see [[Tombstones]])
        val cur = Tombstones.gate(spark, indexDir,
          Versioned.read(spark, s"$indexDir/fwd").drop("doc_part"),
          col("doc_id"))
        val n = autoDocShards(cur.count())
        val v = Versioned.overwritePartitioned(
          cur.withColumn("doc_part", pmod(col("doc_id"), lit(n.toLong))),
          s"$indexDir/fwd", "doc_part")
        Stamp.write(spark, indexDir, Stamp.DocParts, n, v)
        v
      case None =>
        // untrusted sidecar: layout-preserving compact, with the
        // tombstone drop folded in only when there is one to apply
        if (Tombstones.of(spark, indexDir).isEmpty)
          Versioned.compact(spark, s"$indexDir/fwd")
        else Versioned.overwriteLike(
          Tombstones.gate(spark, indexDir,
            Versioned.read(spark, s"$indexDir/fwd"), col("doc_id")),
          s"$indexDir/fwd")
    }

  /** Forward rows for a bounded doc set: the set's distinct doc ids
    * broadcast ONTO the partitioned forward scan. On a trusted sidecar
    * the join carries doc_part, so Spark DPP prunes unprobed doc-shard
    * directories at run time — for the latest read AND for any asOf
    * pinned inside the live layout epoch ([[Stamp.read]] — what
    * keeps a pinned serving stream pruned); an untrusted sidecar or a
    * pre-epoch pin degrades to the unpruned-but-correct doc_id join.
    * `need` names the forward columns to read — parquet prunes the
    * rest, so a length-only consumer never pays the token-array bytes.
    */
  /** Stage a SMALL serve-side set (fused rankings, packed spans,
    * feedback docs — all O(|Q|·k) rows) behind a CONSTRAINT-FREE RDD
    * seam. A plain `localCheckpoint` preserves the origin plan's
    * constraints through the seam (SPARK-39748), and when the staged
    * set already flowed through a forward-index join its constraints
    * contain this module's own shard-range guard — so the NEXT
    * consumer's guard gets pruned as redundant, `hasSelectivePredicate`
    * fails on the probe side, and PartitionPruning silently declines:
    * the second hop of a composed serve pipeline (assemble → fetch
    * text) read the forward index UNPRUNED (and the optimizer then
    * injected a corpus-sized reverse bloom). Rebuilding the DataFrame
    * from the checkpointed row RDD drops origin metadata, so the guard
    * survives at every composition depth. The row round-trip costs a
    * serialize/deserialize of O(|Q|·k) rows — serve-batch-sized, never
    * corpus-sized.
    */
  private[graft] def constraintFreeStage(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd.localCheckpoint(), df.schema)

  private[graft] def forwardFor(spark: SparkSession, indexDir: String,
                         docSet: DataFrame, need: Seq[String],
                         asOf: Option[Long]): DataFrame = {
    val fwd = Versioned.read(spark, s"$indexDir/fwd", asOf)
    // the takedown gate rides the REQUEST set (already bounded and
    // broadcast-bound), so a tombstoned document's text never mounts
    // into a context window even if an ungated caller asks for it
    val ids = Tombstones.gate(spark, indexDir,
      docSet.select(col("doc_id")).distinct(), col("doc_id"))
    Stamp.read(spark, indexDir, Stamp.DocParts, asOf) match {
      case Some(n) =>
        // the shard-range guard is an invariant (pmod lands in [0, n))
        // doing double duty: it is the selective predicate Spark's
        // PartitionPruning rule requires on the probe side before it
        // will insert the DPP subquery — without it a checkpointed/
        // in-memory span set joins unpruned (correct, corpus-sized)
        val probe = ids
          .withColumn("doc_part", pmod(col("doc_id"), lit(n.toLong)))
          .filter(col("doc_part").between(0, n - 1))
        fwd.select(("doc_part" +: "doc_id" +: need).map(col): _*)
          .join(broadcast(probe), Seq("doc_part", "doc_id"))
          .drop("doc_part")
      case None =>
        fwd.select(("doc_id" +: need).map(col): _*)
          .join(broadcast(ids), Seq("doc_id"))
    }
  }
}
