package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Index, Retrieval}
import graft.operators.Retrieval.{Hybrid, Ivf, Lexical, MaxSim, Pq}

/** Lexical retrieval + storage-layout queries (SURVEY.md §2 [EXT] rows,
  * q146–q148): Okapi BM25 full-text search (inline and from the
  * persisted inverted index) and Z-order multi-dimensional clustering.
  */
object RetrievalQueries {

  /** Mixed-selectivity query: 'dup' is rare (high idf — the planted
    * duplicate-marker token), 'spark'/'hash' are near-ubiquitous (idf
    * close to the smoothing floor). BM25's job is exactly to let the
    * rare term dominate while term frequency and doc length still
    * separate the common-term ties.
    */
  private val bmTerms = Seq("dup", "spark", "hash")

  // ---------------------------------------------------------------------
  // [EXT] BM25 full-text search — one corpus pass: non-query tokens die
  // inside the scan's codegen stage, the shuffle carries (doc_id, dl,
  // tok, tf) for the 3 query terms only, ranking is
  // TakeOrderedAndProject. Per-doc sums ride DECIMAL(27,10) so the
  // double scores replay exactly in SQL.
  def q146Bm25(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(spark, dir),
      col("doc_id"), col("text"), bmTerms, k = 20)

  private val q146Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |tf AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
      |  WHERE tok IN ('dup', 'spark', 'hash')
      |  GROUP BY 1, 2, 3),
      |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |term AS (
      |  SELECT tf.doc_id,
      |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
      |  FROM tf JOIN dfs USING (tok) CROSS JOIN stats)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
      |FROM term GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] BM25 from the PERSISTED INVERTED INDEX — build once (postings
  // with denormalized doc length + 1-row stats, lockstep Versioned
  // tables), then a query touches only its terms' postings rows: the
  // token filter pushes into the parquet scan, df derives from the
  // |T|-row filtered slice, and no corpus-sized table is joined at
  // query time. Same scoring formula ⇒ same oracle SQL as q146.
  private def cachedBm25(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25q",
      Index.Bm25.artifact)(
      Index.build(Index.Bm25Spec(),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)

  def q147Bm25Index(spark: SparkSession, dir: String): DataFrame =
    Retrieval.queryBm25Index(spark, cachedBm25(spark, dir), bmTerms, k = 20)

  // ---------------------------------------------------------------------
  // [EXT] exact-phrase search — the positional half of the inverted
  // index: "hash join" as ADJACENT tokens, detected index-only via the
  // classic positional intersection (positions(t1) ∩ positions(t2)−1),
  // never re-reading text. The oracle replays the semantics directly
  // off the documents table (adjacent-subscript scan), so the postings'
  // position lists are verified against ground truth, not against
  // themselves.
  def q152PhraseIndex(spark: SparkSession, dir: String): DataFrame =
    Retrieval.phraseSearch(spark, cachedBm25(spark, dir),
      Seq("hash", "join"), k = 20)

  private val q152Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |hits AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t)
      |  WHERE i + 1 <= len(toks) AND toks[i] = 'hash' AND toks[i + 1] = 'join')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occur FROM hits
      |GROUP BY doc_id ORDER BY n_occur DESC, doc_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] Z-order clustering key — `Maintenance.zKey`, THE sort key
  // behind zorderWrite's multi-dimensional file clustering, hash-checked
  // cross-engine: the fixed-point bucket grid (min-max normalization,
  // 16 bits per column) and the full 32-term bit interleave replay in
  // SQL. The layout machinery itself (range shuffle, per-file min-max
  // tightness, measured pruning) is spec-tested in MaintenanceSpec —
  // a file layout has no relational output to oracle; its key does.
  def q148ZorderKey(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val stats = li.agg(
      min(col("l_partkey")).cast("double").as("lo_p"),
      max(col("l_partkey")).cast("double").as("hi_p"),
      min(col("l_suppkey")).cast("double").as("lo_s"),
      max(col("l_suppkey")).cast("double").as("hi_s"))
    li.crossJoin(broadcast(stats))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        graft.operators.Maintenance.zKey(Seq(
          (col("l_partkey"), col("lo_p"), col("hi_p")),
          (col("l_suppkey"), col("lo_s"), col("hi_s")))).as("z"))
      .orderBy(col("z").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)
  }

  private val q148Sql = {
    // bucketN: 16-bit fixed-point grid over the column's [lo, hi]
    def bucket(c: String, lo: String, hi: String): String =
      s"(CASE WHEN $hi = $lo THEN 0 ELSE least(65535, " +
        s"CAST(floor((CAST($c AS DOUBLE) - $lo) / ($hi - $lo) * 65536) AS INTEGER)) END)"
    // mortonN (n = 2): column k's bit i lands at 2i + (1 - k)
    def morton(b0: String, b1: String): String =
      (0 until 16).flatMap { i => Seq(
        s"(((CAST($b0 AS BIGINT) >> $i) & 1) << ${2 * i + 1})",
        s"(((CAST($b1 AS BIGINT) >> $i) & 1) << ${2 * i})")
      }.mkString("(", " | ", ")")
    s"""WITH stats AS (
       |  SELECT CAST(min(l_partkey) AS DOUBLE) AS lo_p,
       |    CAST(max(l_partkey) AS DOUBLE) AS hi_p,
       |    CAST(min(l_suppkey) AS DOUBLE) AS lo_s,
       |    CAST(max(l_suppkey) AS DOUBLE) AS hi_s
       |  FROM lineitem)
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  ${morton(bucket("l_partkey", "lo_p", "hi_p"),
                   bucket("l_suppkey", "lo_s", "hi_s"))} AS z
       |FROM lineitem CROSS JOIN stats
       |ORDER BY z ASC, l_orderkey ASC, l_linenumber ASC LIMIT 100""".stripMargin
  }

  // ---------------------------------------------------------------------
  // [EXT] multi-query BM25 — N queries against the index in ONE
  // postings pass (the batch-serving shape behind the search stream):
  // term sets broadcast onto the postings scan as an equality join,
  // df/tf derive per query from the joined slice, bounded top-10 per
  // query. Same formula as q147; the oracle recomputes both queries'
  // rankings from the documents table.
  def q153Bm25Many(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qdf = Seq((1L, Seq("dup", "spark")), (2L, Seq("hash", "join", "table")))
      .toDF("query_id", "terms")
    Retrieval.queryBm25IndexMany(spark, cachedBm25(spark, dir), qdf, k = 10)
  }

  private val q153Sql =
    """WITH q AS (
      |  SELECT * FROM (VALUES (CAST(1 AS BIGINT), ['dup', 'spark']),
      |                        (CAST(2 AS BIGINT), ['hash', 'join', 'table']))
      |    AS v(query_id, terms)),
      |qt AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM q),
      |d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |tf AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
      |  GROUP BY 1, 2, 3),
      |hits AS (SELECT qt.query_id, tf.* FROM tf JOIN qt USING (tok)),
      |dfs AS (
      |  SELECT query_id, tok, CAST(count(*) AS BIGINT) AS df
      |  FROM hits GROUP BY 1, 2),
      |term AS (
      |  SELECT h.query_id, h.doc_id,
      |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
      |  FROM hits h JOIN dfs USING (query_id, tok) CROSS JOIN stats),
      |scored AS (
      |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
      |  FROM term GROUP BY 1, 2)
      |SELECT query_id, doc_id, n_terms, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS rn FROM scored)
      |WHERE rn <= 10
      |ORDER BY query_id, score DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] HYBRID retrieval fusion — reciprocal-rank fusion (Cormack,
  // Clarke & Büttcher 2009) over the TWO persisted indexes: the BM25
  // inverted index (q147) and the IVF ANN index (q116) answer the same
  // two queries independently (top-20 each), then score(q,d) =
  // Σ 1/(60 + rank) fuses the rankings — ranks, not scores, so the
  // log-odds and cosine scales never have to be commensurate. The
  // oracle replays BOTH rankers (the q153 BM25 CTEs + the q98 IVF
  // probe CTEs) AND the fusion in one statement — every rank and the
  // DECIMAL-exact fused sum hash-match end-to-end.
  // ---------------------------------------------------------------------
  // [EXT] metadata-FILTERED BM25 — the lexical half of filtered
  // retrieval (q184 is the embedding half): the gate column (`lang`) is
  // DENORMALIZED onto every postings row at build (metaCols — the dl
  // discipline), so the predicate runs inside the token-pruned scan
  // with no doc-meta join per query. Lucene filtered-search semantics:
  // df stays INDEX-GLOBAL (the gate changes WHO ranks, never how a
  // survivor scores — a gated document's score is IDENTICAL to its
  // q147 score), the gate applies to the full matching set BEFORE
  // ranking (no starvation), and a predicate over un-baked columns
  // refuses loudly. The oracle replays global df + the gated scoring.
  private def cachedBm25Meta(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25metaq",
      Index.Bm25.artifact)(
      Index.build(Index.Bm25Spec(metaCols = Seq("lang")),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)

  def q185Bm25Filtered(spark: SparkSession, dir: String): DataFrame =
    Retrieval.lexical(spark, Lexical(cachedBm25Meta(spark, dir),
      predicate = Some(col("lang") === "en")), bmTerms, k = 20)

  private val q185Sql =
    """WITH d AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |tf AS (
      |  SELECT doc_id, lang, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, lang, dl, unnest(toks) AS tok FROM d)
      |  WHERE tok IN ('dup', 'spark', 'hash')
      |  GROUP BY 1, 2, 3, 4),
      |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |term AS (
      |  SELECT tf.doc_id,
      |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
      |  FROM tf JOIN dfs USING (tok) CROSS JOIN stats
      |  WHERE tf.lang = 'en')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
      |FROM term GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] document TAKEDOWN — the deletion path a 100 TB training-data
  // pipeline needs routinely (opt-outs, DMCA, discovered contamination):
  // build the index, tombstone every doc_id ≡ 3 (mod 7), and run the
  // compaction MERGE (physical drop + stats correction — Lucene
  // delete-then-merge, where pre-merge probes gate candidates with
  // pre-delete statistics and the merge makes the index row-identical
  // to a fresh build without the docs). The oracle replays BM25 over
  // "corpus minus the tombstoned docs" end-to-end, so the drop, the
  // df/stats correction, and the ranking all hash-match ground truth.
  private def cachedBm25Takedown(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25tdq3",
      Index.Bm25.artifact) { d =>
      val docs = Tables.documents(spark, dir)
      Index.build(Index.Bm25Spec(),
        Index.Text(docs, col("doc_id"), col("text")), d): Unit
      graft.operators.Tombstones.add(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), d,
        reason = "dmca", requestedAt = 86400000L,
        boundary = 86400000L): Unit
      graft.operators.Retrieval.compactBm25Index(spark, d): Unit
    }

  def q188TakedownBm25(spark: SparkSession, dir: String): DataFrame =
    Retrieval.queryBm25Index(spark, cachedBm25Takedown(spark, dir),
      bmTerms, k = 20)

  private val q188Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id % 7 <> 3),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |tf AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
      |  WHERE tok IN ('dup', 'spark', 'hash')
      |  GROUP BY 1, 2, 3),
      |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |term AS (
      |  SELECT tf.doc_id,
      |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
      |  FROM tf JOIN dfs USING (tok) CROSS JOIN stats)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
      |FROM term GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] document SUPERSEDE (recrawl) — the UPDATE path a mutable-
  // source pipeline needs (the reference's daily batch re-ingests
  // MUTABLE RDS rows — 0affc6b7559b_dag.py:30 — so "same logical doc,
  // new content" is its routine case): every doc_id ≡ 7 (mod 13) is
  // re-crawled as a successor (new id, revised text), the successor
  // APPENDS to the live index, the predecessor tombstones with reason
  // "superseded", and the compaction merge makes the index
  // row-identical to one built over the v2-only corpus. The oracle
  // replays BM25 over exactly that corpus — predecessors out,
  // successors in — end-to-end: df/stats correction, the appended
  // postings, and the ranking all hash-match ground truth.
  private val supMod = 13
  private val supOff = 10000000L
  private def supersedePairs(docs: DataFrame): (DataFrame, DataFrame) = {
    val old = docs.filter(col("doc_id") % supMod === 7)
    val v2 = old.select((col("doc_id") + supOff).as("doc_id"),
      concat(col("text"), lit(" revised edition")).as("text"))
    (old, v2)
  }

  private def cachedBm25Supersede(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25supq",
      Index.Bm25.artifact) { d =>
      val docs = Tables.documents(spark, dir)
      Index.build(Index.Bm25Spec(),
        Index.Text(docs, col("doc_id"), col("text")), d): Unit
      val (old, v2) = supersedePairs(docs)
      graft.operators.Retrieval.appendToBm25Index(
        v2, col("doc_id"), col("text"), d): Unit
      graft.operators.Tombstones.add(old.select(col("doc_id")), d,
        reason = "superseded", requestedAt = 86400000L,
        boundary = 86400000L): Unit
      graft.operators.Retrieval.compactBm25Index(spark, d): Unit
    }

  def q191SupersedeBm25(spark: SparkSession, dir: String): DataFrame =
    Retrieval.queryBm25Index(spark, cachedBm25Supersede(spark, dir),
      bmTerms, k = 20)

  private val q191Sql =
    s"""WITH corp AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % $supMod <> 7
      |  UNION ALL
      |  SELECT doc_id + $supOff AS doc_id, text || ' revised edition' AS text
      |  FROM documents WHERE doc_id % $supMod = 7),
      |d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS toks
      |  FROM corp),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |tf AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
      |  WHERE tok IN ('dup', 'spark', 'hash')
      |  GROUP BY 1, 2, 3),
      |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |term AS (
      |  SELECT tf.doc_id,
      |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
      |  FROM tf JOIN dfs USING (tok) CROSS JOIN stats)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
      |FROM term GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] supersede LINEAGE + forward serving + audit — the whole
  // [[graft.operators.Supersede]] operator on a work dir (forward index
  // + lineage + tombstone audit): the successors append, supersede()
  // swaps the predecessors out in one call, and the query serves the
  // lineage relation joined with the successor's forward-index length,
  // the audit reason, and the PROOF the predecessor no longer serves
  // (a gated forward-index probe that must come back empty). The
  // oracle replays all of it from the documents table — who superseded
  // whom, at which boundary, the v2 token length, the recorded reason,
  // and old_served = false.
  private def cachedSupersedeWork(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "supworkq",
      graft.operators.Supersede.Lineage) { w =>
      val docs = Tables.documents(spark, dir)
      Index.build(Index.ForwardSpec(),
        Index.Text(docs, col("doc_id"), col("text")), s"$w/fwd"): Unit
      val (old, v2) = supersedePairs(docs)
      Index.append(Index.Text(v2, col("doc_id"),
          col("text")), s"$w/fwd"): Unit
      graft.operators.Supersede.supersede(spark,
        old.select(col("doc_id").as("old_id"),
          (col("doc_id") + supOff).as("new_id")),
        w, boundary = 86400000L, indexDirs = Seq(s"$w/fwd")): Unit
    }

  def q193SupersedeLineage(spark: SparkSession, dir: String): DataFrame = {
    val w = cachedSupersedeWork(spark, dir)
    val fwdDir = s"$w/fwd"
    val fwd = graft.sources.Versioned.read(spark, s"$fwdDir/fwd")
    val gated = graft.operators.Tombstones.gate(spark, fwdDir,
      fwd, col("doc_id"))
    val lin = graft.operators.Supersede.lineage(spark, w)
    val aud = graft.operators.Tombstones.audit(spark, fwdDir)
      .select(col("doc_id").as("old_id"), col("reason"))
    lin
      .join(gated.select(col("doc_id").as("new_id"), col("dl")),
        Seq("new_id"))
      .join(gated.select(col("doc_id").as("old_id"),
        lit(true).as("__srv")), Seq("old_id"), "left")
      .join(aud, Seq("old_id"))
      .select(col("new_id"), col("old_id"), col("boundary"), col("dl"),
        col("reason"), coalesce(col("__srv"), lit(false)).as("old_served"))
      .orderBy(col("old_id"))
  }

  private val q193Sql =
    s"""SELECT doc_id + $supOff AS new_id, doc_id AS old_id,
      |  CAST(86400000 AS BIGINT) AS boundary,
      |  CAST(len(string_split(text || ' revised edition', ' ')) AS BIGINT) AS dl,
      |  'superseded' AS reason, FALSE AS old_served
      |FROM documents WHERE doc_id % $supMod = 7
      |ORDER BY old_id""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] takedown AUDIT TRAIL — erasure proven by data (GDPR art. 17 /
  // DMCA compliance both require demonstrable who/why/when, not just a
  // doc that stopped serving): the q188 takedown's audit rows aggregate
  // per (reason, boundary) with the count of docs erased AND the count
  // still physically present in the merged postings — which the oracle
  // pins to ZERO, so a compaction that failed to drop a row
  // hash-mismatches ground truth instead of passing silently.
  def q194TakedownAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = cachedBm25Takedown(spark, dir)
    val aud = graft.operators.Tombstones.audit(spark, d)
    val posted = graft.sources.Versioned.read(spark, s"$d/postings")
      .select(col("doc_id")).distinct().withColumn("__srv", lit(1L))
    aud.join(posted, Seq("doc_id"), "left")
      .groupBy(col("reason"), col("boundary"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__srv"), lit(0L))).as("n_served_after"))
      .orderBy(col("reason"), col("boundary"))
  }

  private val q194Sql =
    """SELECT 'dmca' AS reason, CAST(86400000 AS BIGINT) AS boundary,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(0 AS BIGINT) AS n_served_after
      |FROM documents WHERE doc_id % 7 = 3
      |ORDER BY reason, boundary""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] FACET COUNTS over retrieval — the serving aggregate every
  // search UI mounts beside its top-k: per gate-column value, the count
  // of the FULL eligible matching set (docs matching ≥1 query term),
  // not of the truncated top-k. The count rides the probe's own
  // token-pruned postings slice (the facet column was baked at build —
  // metaCols), so facet bytes == probe bytes and no doc-meta table is
  // joined at query time; queryBm25IndexFaceted serves ranking + facets
  // off ONE staged slice (spec-asserted pair-consistency).
  def q189Bm25Facets(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25Facets(spark, cachedBm25Meta(spark, dir), bmTerms,
      facetCols = Seq("lang"))

  private val q189Sql =
    """WITH m AS (
      |  SELECT DISTINCT doc_id, lang FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)
      |  WHERE tok IN ('dup', 'spark', 'hash'))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |FROM m GROUP BY lang ORDER BY lang""".stripMargin

  // [EXT] the same facet panel at CHUNK grain — counts of matching
  // SPANS per facet value over the chunk index (chunks inherit their
  // document's gate columns at build), the panel a RAG UI shows beside
  // retrieved context. Same machinery (the index is grain-agnostic);
  // the oracle replays the window grid + the distinct-chunk counts.
  def q190ChunkFacets(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25chunklang",
      Index.Bm25.artifact)(
      Index.build(Index.Bm25Spec(Index.Chunks(32, 16), metaCols = Seq("lang")),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)
    Retrieval.bm25Facets(spark, d, bmTerms, facetCols = Seq("lang"))
  }

  private val q190Sql =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS parts FROM documents),
      |starts AS (
      |  SELECT doc_id, lang, parts,
      |    unnest(range(1, len(parts) + 1, 16)) AS chunk_start
      |  FROM t),
      |ch AS (
      |  SELECT doc_id * 4294967296 + chunk_start AS ck, lang,
      |    array_to_string(parts[chunk_start : chunk_start + 31], ' ') AS chunk_text
      |  FROM starts),
      |m AS (
      |  SELECT DISTINCT ck, lang FROM (
      |    SELECT ck, lang, unnest(string_split(chunk_text, ' ')) AS tok FROM ch)
      |  WHERE tok IN ('dup', 'spark', 'hash'))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |FROM m GROUP BY lang ORDER BY lang""".stripMargin

  def q166HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq((0L, Seq("dup", "spark")), (1L, Seq("hash", "join", "table")))
      .toDF("query_id", "terms")
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    Retrieval.hybridSearch(spark, cachedBm25(spark, dir),
      SimQueries.cachedIvfIndex(spark, dir),
      terms.join(vecs, Seq("query_id")), k = 10, kEach = 20)
  }

  private val q166Sql = {
    val dot = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 65), i -> $a.v[i] * $b.v[i]))"
    def lloyd(prev: String, asg: String, mean: String, next: String) =
      s"""$asg AS (
         |  SELECT centroid_id, cv FROM (
         |    SELECT c.centroid_id, b.v AS cv,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${dot("b", "c")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
         |                 c.centroid_id ASC) AS rn
         |    FROM base b CROSS JOIN $prev c)
         |  WHERE rn = 1),
         |$mean AS (
         |  SELECT centroid_id, i,
         |    CAST(sum(CAST(cv[i] AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
         |  FROM $asg CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
         |  GROUP BY 1, 2),
         |$next AS (
         |  SELECT centroid_id, v, list_sum(list_transform(v, x -> x * x)) AS nsq
         |  FROM (SELECT centroid_id, list(m ORDER BY i) AS v FROM $mean GROUP BY 1))"""
        .stripMargin
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT vec_id AS centroid_id, v, nsq FROM base
       |  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) ASC,
       |           vec_id ASC
       |  LIMIT 16),
       |${lloyd("cent0", "asg1", "m1", "cent1")},
       |${lloyd("cent1", "asg2", "m2", "cent2")},
       |assigned AS (
       |  SELECT centroid_id, cand_id, cv, cnsq FROM (
       |    SELECT c.centroid_id, b.vec_id AS cand_id, b.v AS cv, b.nsq AS cnsq,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${dot("b", "c")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
       |                 c.centroid_id ASC) AS rn
       |    FROM base b CROSS JOIN cent2 c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, centroid_id, qv, qnsq FROM (
       |    SELECT b.vec_id AS query_id, c.centroid_id, b.v AS qv, b.nsq AS qnsq,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${dot("b", "c")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
       |                 c.centroid_id ASC) AS rn
       |    FROM base b CROSS JOIN cent2 c
       |    WHERE b.vec_id < 2)
       |  WHERE rn <= 4),
       |semscored AS (
       |  SELECT p.query_id, a.cand_id,
       |    list_sum(list_transform(range(1, 65), i -> p.qv[i] * a.cv[i]))
       |      / (sqrt(p.qnsq) * sqrt(a.cnsq)) AS sim
       |  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
       |  WHERE a.cand_id <> p.query_id),
       |semr AS (
       |  SELECT query_id, cand_id AS doc_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, cand_id ASC) AS rn FROM semscored)
       |  WHERE rn <= 20),
       |q AS (
       |  SELECT * FROM (VALUES (CAST(0 AS BIGINT), ['dup', 'spark']),
       |                        (CAST(1 AS BIGINT), ['hash', 'join', 'table']))
       |    AS v(query_id, terms)),
       |qt AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM q),
       |d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    string_split(text, ' ') AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |tf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |  GROUP BY 1, 2, 3),
       |hits AS (SELECT qt.query_id, tf.* FROM tf JOIN qt USING (tok)),
       |dfs AS (
       |  SELECT query_id, tok, CAST(count(*) AS BIGINT) AS df
       |  FROM hits GROUP BY 1, 2),
       |term AS (
       |  SELECT h.query_id, h.doc_id,
       |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
       |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
       |  FROM hits h JOIN dfs USING (query_id, tok) CROSS JOIN stats),
       |lexscored AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term GROUP BY 1, 2),
       |lexr AS (
       |  SELECT query_id, doc_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rn FROM lexscored)
       |  WHERE rn <= 20),
       |contrib AS (
       |  SELECT query_id, doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rn) AS DECIMAL(27,10)) AS rw
       |  FROM lexr
       |  UNION ALL
       |  SELECT query_id, doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rn) AS DECIMAL(27,10)) AS rw
       |  FROM semr),
       |fused AS (
       |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_rankers,
       |    CAST(sum(rw) AS DOUBLE) AS rrf
       |  FROM contrib GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_rankers, rrf FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused)
       |WHERE rn <= 10
       |ORDER BY query_id, rrf DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // [EXT] end-to-end FILTERED hybrid retrieval — ONE metadata gate
  // (lang = 'en') applied to BOTH persisted arms before fusion: the
  // lexical arm gates inside its token-pruned postings scan (metaCols
  // denormalized per posting, df stays index-global), the semantic arm
  // inside its probed centroid buckets (metaCols on assignment rows,
  // pushed into the scan), and both gate the FULL scored set before
  // their top-kEach, so no arm starves on gated neighbors and the
  // fusion sees only eligible documents. This is the serving shape of
  // a multilingual / license-gated RAG deployment. The oracle replays
  // both gated rankers AND the RRF fusion in one statement.
  def q186HybridFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq((0L, Seq("dup", "spark")), (1L, Seq("hash", "join", "table")))
      .toDF("query_id", "terms")
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    val ivfLang = graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "embeddings.parquet"), "ivf_c16_l2lang",
      Index.Ivf.artifact)(d => {
        // the gate column rides in from the documents table by id (the
        // corpus' embeddings are 1:1 with its documents); baked once at
        // build, joined never again at query time
        val e = Tables.embeddings(spark, dir)
          .join(Tables.documents(spark, dir)
            .select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("lang"))
        Index.build(Index.IvfSpec(nCentroids = 16, lloydIters = 2,
          metaCols = Seq("lang")),
          Index.Vectors(e), d): Unit
      })
    Retrieval.hybrid(spark, Hybrid(cachedBm25Meta(spark, dir), Ivf(ivfLang),
      predicate = Some(col("lang") === "en")),
      terms.join(vecs, Seq("query_id")), k = 10)
  }

  private val q186Sql = {
    val dot = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 65), i -> $a.v[i] * $b.v[i]))"
    def lloyd(prev: String, asg: String, mean: String, next: String) =
      s"""$asg AS (
         |  SELECT centroid_id, cv FROM (
         |    SELECT c.centroid_id, b.v AS cv,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${dot("b", "c")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
         |                 c.centroid_id ASC) AS rn
         |    FROM base b CROSS JOIN $prev c)
         |  WHERE rn = 1),
         |$mean AS (
         |  SELECT centroid_id, i,
         |    CAST(sum(CAST(cv[i] AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
         |  FROM $asg CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
         |  GROUP BY 1, 2),
         |$next AS (
         |  SELECT centroid_id, v, list_sum(list_transform(v, x -> x * x)) AS nsq
         |  FROM (SELECT centroid_id, list(m ORDER BY i) AS v FROM $mean GROUP BY 1))"""
        .stripMargin
    s"""WITH base AS (
       |  SELECT e.vec_id, dd.lang, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
       |  FROM embeddings e JOIN documents dd ON dd.doc_id = e.vec_id),
       |cent0 AS (
       |  SELECT vec_id AS centroid_id, v, nsq FROM base
       |  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) ASC,
       |           vec_id ASC
       |  LIMIT 16),
       |${lloyd("cent0", "asg1", "m1", "cent1")},
       |${lloyd("cent1", "asg2", "m2", "cent2")},
       |assigned AS (
       |  SELECT centroid_id, cand_id, lab, cv, cnsq FROM (
       |    SELECT c.centroid_id, b.vec_id AS cand_id, b.lang AS lab,
       |      b.v AS cv, b.nsq AS cnsq,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${dot("b", "c")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
       |                 c.centroid_id ASC) AS rn
       |    FROM base b CROSS JOIN cent2 c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, centroid_id, qv, qnsq FROM (
       |    SELECT b.vec_id AS query_id, c.centroid_id, b.v AS qv, b.nsq AS qnsq,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${dot("b", "c")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
       |                 c.centroid_id ASC) AS rn
       |    FROM base b CROSS JOIN cent2 c
       |    WHERE b.vec_id < 2)
       |  WHERE rn <= 4),
       |semscored AS (
       |  SELECT p.query_id, a.cand_id,
       |    list_sum(list_transform(range(1, 65), i -> p.qv[i] * a.cv[i]))
       |      / (sqrt(p.qnsq) * sqrt(a.cnsq)) AS sim
       |  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
       |  WHERE a.cand_id <> p.query_id AND a.lab = 'en'),
       |semr AS (
       |  SELECT query_id, cand_id AS doc_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, cand_id ASC) AS rn FROM semscored)
       |  WHERE rn <= 20),
       |q AS (
       |  SELECT * FROM (VALUES (CAST(0 AS BIGINT), ['dup', 'spark']),
       |                        (CAST(1 AS BIGINT), ['hash', 'join', 'table']))
       |    AS v(query_id, terms)),
       |qt AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM q),
       |d AS (
       |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    string_split(text, ' ') AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |tf AS (
       |  SELECT doc_id, lang, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, lang, dl, unnest(toks) AS tok FROM d)
       |  GROUP BY 1, 2, 3, 4),
       |hits AS (SELECT qt.query_id, tf.* FROM tf JOIN qt USING (tok)),
       |dfs AS (
       |  SELECT query_id, tok, CAST(count(*) AS BIGINT) AS df
       |  FROM hits GROUP BY 1, 2),
       |term AS (
       |  SELECT h.query_id, h.doc_id,
       |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
       |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
       |  FROM hits h JOIN dfs USING (query_id, tok) CROSS JOIN stats
       |  WHERE h.lang = 'en'),
       |lexscored AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term GROUP BY 1, 2),
       |lexr AS (
       |  SELECT query_id, doc_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rn FROM lexscored)
       |  WHERE rn <= 20),
       |contrib AS (
       |  SELECT query_id, doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rn) AS DECIMAL(27,10)) AS rw
       |  FROM lexr
       |  UNION ALL
       |  SELECT query_id, doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rn) AS DECIMAL(27,10)) AS rw
       |  FROM semr),
       |fused AS (
       |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_rankers,
       |    CAST(sum(rw) AS DOUBLE) AS rrf
       |  FROM contrib GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_rankers, rrf FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused)
       |WHERE rn <= 10
       |ORDER BY query_id, rrf DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // [EXT] chunk-grain retrieval — the RAG serving unit: documents are
  // chunked into 32-token windows at stride 16 (overlapping — the RAG
  // convention) and BM25-ranked at CHUNK grain, so a hit is a
  // context-window-sized span with (doc_id, chunk_start) attribution
  // instead of a whole document whose relevant paragraph is buried in
  // unrelated length. Grain change only: chunks ride the same scoring
  // machinery as q146 (dl = chunk length, idf = chunk frequency). The
  // oracle replays the q120 chunk CTE, the composite doc·2³²+start key,
  // and the q146 BM25 CTEs over chunks in one statement.
  def q167ChunkBm25(spark: SparkSession, dir: String): DataFrame =
    Retrieval.chunkBm25TopK(Tables.documents(spark, dir),
      col("doc_id"), col("text"), bmTerms, k = 20, size = 32, stride = 16)

  private val q167Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
      |starts AS (
      |  SELECT doc_id, parts,
      |    unnest(range(1, len(parts) + 1, 16)) AS chunk_start
      |  FROM t),
      |ch AS (
      |  SELECT doc_id * 4294967296 + chunk_start AS ck,
      |    array_to_string(parts[chunk_start : chunk_start + 31], ' ') AS chunk_text
      |  FROM starts),
      |d AS (
      |  SELECT ck, CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS dl,
      |    string_split(chunk_text, ' ') AS toks
      |  FROM ch),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |tf AS (
      |  SELECT ck, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT ck, dl, unnest(toks) AS tok FROM d)
      |  WHERE tok IN ('dup', 'spark', 'hash')
      |  GROUP BY 1, 2, 3),
      |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |term AS (
      |  SELECT tf.ck,
      |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
      |  FROM tf JOIN dfs USING (tok) CROSS JOIN stats)
      |SELECT ck // 4294967296 AS doc_id, ck % 4294967296 AS chunk_start,
      |  CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
      |FROM term GROUP BY ck
      |ORDER BY score DESC, doc_id ASC, chunk_start ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] chunk-grain retrieval from the PERSISTED index — the
  // grain-agnosticism claim made real: the chunk index IS the q147
  // machinery over keyed windows (postings at chunk grain, bucketed by
  // token, lockstep Versioned tables), and a probe touches only its
  // terms' buckets, never the chunk corpus. Same output as q167 ⇒ same
  // oracle SQL (the q147 ≡ q146 pattern).
  private def cachedChunkBm25(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25chunkq",
      Index.Bm25.artifact)(
      Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)

  def q168ChunkIndex(spark: SparkSession, dir: String): DataFrame =
    Retrieval.lexical(spark, Lexical(cachedChunkBm25(spark, dir)), bmTerms,
      k = 20)

  // ---------------------------------------------------------------------
  // [EXT] chunk-grain HYBRID retrieval — the full RAG serving unit: the
  // chunk BM25 index (q168) and a chunk ANN index (IVF over
  // deterministic feature-hash embeddings — Corpus.hashEmbed, the
  // SQL-replayable stand-in for a neural encoder) answer the same two
  // queries AT CK GRAIN, so a lexical hit and a semantic hit of the
  // same SPAN fuse (q166 fused at doc grain; a RAG stack fuses the
  // context unit it serves). RRF combines the rankings; the composite
  // key decodes to attributed spans. The oracle replays chunking, the
  // hashing-trick embedding, the IVF probe, chunk BM25, the fusion,
  // and the key decode in ONE statement — every rank and the
  // DECIMAL-exact fused sum hash-match end-to-end.
  private def cachedChunkIvf(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "chunkivfq",
      Index.Ivf.artifact)(
      Index.build(Index.IvfSpec(Index.Chunks(32, 16)),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)

  /** The hybrid chunk query batch: terms + the SAME feature-hash
    * embedding of the query text the index's chunks were encoded with.
    * Query ids sit far above any doc id yet below 2³² so they can never
    * collide with a composite chunk key.
    */
  private def chunkQueryBatch(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val qraw = Seq((900000001L, Seq("dup", "spark")),
      (900000002L, Seq("hash", "join", "table"))).toDF("query_id", "terms")
    qraw.join(
      graft.operators.Corpus.hashEmbed(qraw, col("query_id"),
        concat_ws(" ", col("terms"))).withColumnRenamed("id", "query_id"),
      Seq("query_id"))
  }

  def q169ChunkHybrid(spark: SparkSession, dir: String): DataFrame =
    Retrieval.hybrid(spark, Hybrid(cachedChunkBm25(spark, dir),
      Ivf(cachedChunkIvf(spark, dir))), chunkQueryBatch(spark), k = 10)

  // ---------------------------------------------------------------------
  // [EXT] chunk-grain hybrid over the COMPRESSED semantic arm — q169's
  // composition with the chunk ANN index upgraded to IVF-PQ + exact
  // re-rank (judge task: at 100 TB the chunk-grain vector table is the
  // largest vector artifact in the system — every document explodes
  // into size/stride windows — so PQ's ~32× byte cut pays most exactly
  // here). The probe streams m-code rows from the probed buckets, the
  // |Q|·kEach·alpha shortlist re-scores with exact dots against the
  // full-precision chunk vectors (derived from the documents table on
  // the index's own grid — no second float artifact), and RRF fuses
  // with the chunk BM25 arm at span grain. The oracle replays chunking,
  // embedding, IVF assignment, the md5-seeded codebook, ADC, the exact
  // re-rank, chunk BM25, and the fusion in ONE statement.
  private def cachedChunkPq(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "chunkpq2",
      Index.Pq.artifact)(
      Index.build(Index.PqSpec(Index.Chunks(32, 16)),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)

  def q179ChunkHybridPq(spark: SparkSession, dir: String): DataFrame =
    Retrieval.hybrid(spark, Hybrid(cachedChunkBm25(spark, dir),
      Pq(cachedChunkPq(spark, dir), Some(4), nProbes = 4)),
      chunkQueryBatch(spark), k = 10)

  private lazy val q179Sql =
    s"""$chunkHybridPqCtes
       |SELECT query_id, ckid // 4294967296 AS doc_id,
       |  ckid % 4294967296 AS chunk_start, n_rankers, rrf
       |FROM sel ORDER BY query_id, rrf DESC, doc_id, chunk_start""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] THREE-arm chunk fusion — q169's hybrid with Dirichlet QL as a
  // third ranker over the SAME chunk BM25 index (judge task: the RAG
  // stack serves chunks, and until now the second classic ranker
  // existed only at doc grain). The QL arm reads the same pruned
  // (query, posting) slice as BM25 — no new artifact, no new corpus
  // pass; rrfFuse is ranker-count-agnostic so only ranks enter. The
  // oracle replays all three rankings and the 3-way fusion in ONE
  // statement; n_rankers now reaches 3 where a span is found by every
  // arm.
  def q180ChunkHybrid3(spark: SparkSession, dir: String): DataFrame =
    Retrieval.hybrid(spark, Hybrid(cachedChunkBm25(spark, dir),
      Ivf(cachedChunkIvf(spark, dir)), ql = Some(Retrieval.Mu)),
      chunkQueryBatch(spark), k = 10)

  private lazy val q180Sql =
    s"""$chunkHybrid3Ctes
       |SELECT query_id, ckid // 4294967296 AS doc_id,
       |  ckid % 4294967296 AS chunk_start, n_rankers, rrf
       |FROM sel ORDER BY query_id, rrf DESC, doc_id, chunk_start""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] MODEL-TOKEN context budgets — q170's pack with the budget
  // counted in BPE ids under the persisted tokenizer (judge task: the
  // context's consumer is a model with an id-budget window; whitespace
  // counts mis-provision it — the q165 lesson). cap→merge→clip are
  // identical; each clipped span's text comes off the forward index and
  // its model-token count from the q164 persisted BPE model, and the
  // ranking prefix packs into 500 ids. The oracle replays the fused
  // ranking, the span algebra, the ENTIRE BPE training chain, the
  // per-span id counts, and the pack in ONE statement.
  def q181ContextModelPack(spark: SparkSession, dir: String): DataFrame = {
    val fused = q169ChunkHybrid(spark, dir)
      .select(col("query_id"), col("doc_id"), col("chunk_start"), col("rrf"))
    Retrieval.assembleContextModelTokens(spark, fused,
      cachedForward(spark, dir),
      PipelineQueries.cachedBpeModel(spark, dir),
      size = 32, budget = 500, maxPerDoc = 2)
  }

  private lazy val q181Sql =
    s"""$chunkHybridCtes,
       |${PipelineQueries.bpeChainSql(PipelineQueries.bpeK)},
       |dec AS (
       |  SELECT query_id, ckid // 4294967296 AS doc_id,
       |    ckid % 4294967296 AS chunk_start, rrf
       |  FROM sel),
       |cap AS (
       |  SELECT query_id, doc_id, chunk_start, rrf FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
       |      ORDER BY rrf DESC, chunk_start ASC) AS cr FROM dec)
       |  WHERE cr <= 2),
       |mrk AS (
       |  SELECT *, chunk_start + 31 AS e,
       |    max(chunk_start + 31) OVER (PARTITION BY query_id, doc_id
       |      ORDER BY chunk_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM cap),
       |grp AS (
       |  SELECT *, sum(CASE WHEN pmax IS NULL OR chunk_start > pmax + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY query_id, doc_id
       |      ORDER BY chunk_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM mrk),
       |sp AS (
       |  SELECT query_id, doc_id, g, min(chunk_start) AS span_start,
       |    max(e) AS span_end0, CAST(count(*) AS BIGINT) AS n_chunks,
       |    max(rrf) AS score
       |  FROM grp GROUP BY 1, 2, 3),
       |dlen AS (
       |  SELECT doc_id, CAST(len(parts) AS BIGINT) AS n_tok, parts FROM t),
       |cl AS (
       |  SELECT query_id, sp.doc_id, span_start,
       |    least(span_end0, n_tok) AS span_end, n_chunks, score, parts
       |  FROM sp JOIN dlen ON dlen.doc_id = sp.doc_id),
       |encx AS (
       |  SELECT word,
       |    CAST(len(string_split(trim(seg, chr(1)), chr(1) || chr(1))) AS BIGINT) AS n_sym
       |  FROM s${PipelineQueries.bpeK}),
       |spw AS (
       |  SELECT query_id, doc_id, span_start,
       |    unnest(parts[span_start : span_end]) AS word
       |  FROM cl),
       |mcount AS (
       |  SELECT query_id, doc_id, span_start,
       |    CAST(sum(n_sym) AS BIGINT) AS n_model_tok
       |  FROM spw JOIN encx USING (word) GROUP BY 1, 2, 3),
       |pk AS (
       |  SELECT cl.query_id, cl.doc_id, cl.span_start, cl.span_end,
       |    cl.n_chunks, cl.score, m.n_model_tok,
       |    CAST(sum(m.n_model_tok) OVER (PARTITION BY cl.query_id
       |      ORDER BY cl.score DESC, cl.doc_id ASC, cl.span_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tok
       |  FROM cl JOIN mcount m ON m.query_id = cl.query_id
       |    AND m.doc_id = cl.doc_id AND m.span_start = cl.span_start)
       |SELECT query_id, doc_id, span_start, span_end, n_chunks, score,
       |  n_model_tok, cum_tok
       |FROM pk WHERE cum_tok <= 500
       |ORDER BY query_id, score DESC, doc_id, span_start""".stripMargin

  /** The shared q169 chain up through `sel` (the fused chunk top-10 at
    * composite-key grain) — q169 decodes and returns it; q170 assembles
    * it into a budgeted context.
    */
  private val dot64 = (a: String, b: String) =>
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
  private val md5long = (c: String) =>
    s"CAST(('0x' || substr(md5($c), 1, 8)) AS BIGINT)"

  // hashing-trick embedding of (key, tok) pairs → dense 64-dim lists
  private def embedSql(src: String, key: String, out: String): String =
    s"""${out}_h AS (
       |  SELECT $key, ${md5long("tok")} AS h FROM $src),
       |${out}_c AS (
       |  SELECT $key, CAST(h % 64 AS INTEGER) AS d,
       |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
       |  FROM ${out}_h GROUP BY 1, 2),
       |${out}_d AS (
       |  SELECT k.$key, r.i, coalesce(s.v, 0.0) AS v
       |  FROM (SELECT DISTINCT $key FROM ${out}_h) k
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) r
       |  LEFT JOIN ${out}_c s ON s.$key = k.$key AND s.d = r.i),
       |$out AS (
       |  SELECT $key, v, list_sum(list_transform(v, x -> x * x)) AS nsq
       |  FROM (SELECT $key, list(v ORDER BY i) AS v FROM ${out}_d
       |        GROUP BY 1))""".stripMargin

  /** Shared chunk-hybrid SQL prefix: chunking, the two-query batch,
    * hashing-trick embeddings of chunks (cbase) and queries (qbase),
    * the 16 IVF centroids, chunk→centroid assignment, and the per-query
    * probe set — everything both semantic arms (float IVF and IVF-PQ)
    * build on.
    */
  private val chunkPrefixCtes =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
       |starts AS (
       |  SELECT doc_id, parts,
       |    unnest(range(1, len(parts) + 1, 16)) AS chunk_start
       |  FROM t),
       |ch AS (
       |  SELECT doc_id * 4294967296 + chunk_start AS ck,
       |    array_to_string(parts[chunk_start : chunk_start + 31], ' ') AS chunk_text
       |  FROM starts),
       |q AS (
       |  SELECT * FROM (VALUES (CAST(900000001 AS BIGINT), ['dup', 'spark']),
       |                        (CAST(900000002 AS BIGINT), ['hash', 'join', 'table']))
       |    AS v(query_id, terms)),
       |ctok AS (SELECT ck, unnest(string_split(chunk_text, ' ')) AS tok FROM ch),
       |qtokall AS (SELECT query_id, unnest(terms) AS tok FROM q),
       |${embedSql("ctok", "ck", "cbase")},
       |${embedSql("qtokall", "query_id", "qbase")},
       |cent AS (
       |  SELECT ck AS centroid_id, v, nsq FROM cbase
       |  ORDER BY ${md5long("CAST(ck AS VARCHAR)")} ASC, ck ASC
       |  LIMIT 16),
       |assigned AS (
       |  SELECT centroid_id, cand_id, cv, cnsq FROM (
       |    SELECT c.centroid_id, b.ck AS cand_id, b.v AS cv, b.nsq AS cnsq,
       |      row_number() OVER (PARTITION BY b.ck
       |        ORDER BY ${dot64("b.v", "c.v")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
       |                 c.centroid_id ASC) AS rn
       |    FROM cbase b CROSS JOIN cent c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, centroid_id, qv, qnsq FROM (
       |    SELECT b.query_id, c.centroid_id, b.v AS qv, b.nsq AS qnsq,
       |      row_number() OVER (PARTITION BY b.query_id
       |        ORDER BY ${dot64("b.v", "c.v")} / (sqrt(b.nsq) * sqrt(c.nsq)) DESC,
       |                 c.centroid_id ASC) AS rn
       |    FROM qbase b CROSS JOIN cent c)
       |  WHERE rn <= 4)""".stripMargin

  /** The float-IVF semantic arm: cosine scan of the probed buckets,
    * top-20 per query as `semr`. */
  private val chunkFloatArmCtes =
    s"""semscored AS (
       |  SELECT p.query_id, a.cand_id,
       |    ${dot64("p.qv", "a.cv")} / (sqrt(p.qnsq) * sqrt(a.cnsq)) AS sim
       |  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
       |  WHERE a.cand_id <> p.query_id),
       |semr AS (
       |  SELECT query_id, cand_id AS ckid, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, cand_id ASC) AS rn FROM semscored)
       |  WHERE rn <= 20)""".stripMargin

  /** The IVF-PQ + exact-rerank semantic arm (m = 8 subspaces of 8 dims,
    * ks = 16 codes, shortlist = kEach·alpha = 80): md5-sampled codebook
    * seeds (code = sample-order rank), per-subspace argmin-L2 encoding,
    * per-query LUT, ADC scoring over the probed buckets, exact-dot
    * re-rank of the shortlist against the full-precision chunk vectors
    * — top-20 per query as `semr`, same interface as the float arm.
    */
  private val chunkPqArmCtes = {
    val l2 = """list_sum(list_transform(range(1, 9),
        |          i -> (b.v[c.j*8+i] - c.cb[i]) * (b.v[c.j*8+i] - c.cb[i])))""".stripMargin
    s"""pqseeds AS (
       |  SELECT v, row_number() OVER (ORDER BY
       |      ${md5long("CAST(ck AS VARCHAR)")} ASC, ck ASC) - 1 AS code
       |  FROM cbase
       |  ORDER BY ${md5long("CAST(ck AS VARCHAR)")} ASC, ck ASC
       |  LIMIT 16),
       |cb0 AS (
       |  SELECT j, code, list_slice(v, j*8+1, j*8+8) AS cb
       |  FROM pqseeds CROSS JOIN (SELECT unnest(range(0, 8)) AS j) sj),
       |enc AS (
       |  SELECT cand_id, j, code FROM (
       |    SELECT b.ck AS cand_id, c.j, c.code,
       |      row_number() OVER (PARTITION BY b.ck, c.j
       |        ORDER BY $l2 ASC, c.code ASC) AS rn
       |    FROM cbase b CROSS JOIN cb0 c)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT b.query_id, c.j, c.code,
       |    list_sum(list_transform(range(1, 9), i -> b.v[c.j*8+i] * c.cb[i])) AS d
       |  FROM qbase b CROSS JOIN cb0 c),
       |pqscored AS (
       |  SELECT p.query_id, a.cand_id, list_sum(list(l.d ORDER BY l.j)) AS pqdot
       |  FROM assigned a
       |  JOIN probes p ON a.centroid_id = p.centroid_id
       |  JOIN enc e ON e.cand_id = a.cand_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.j = e.j AND l.code = e.code
       |  WHERE a.cand_id <> p.query_id
       |  GROUP BY 1, 2),
       |shortlist AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY pqdot DESC, cand_id ASC) AS rn FROM pqscored)
       |  WHERE rn <= 80),
       |rer AS (
       |  SELECT s.query_id, s.cand_id, ${dot64("qb.v", "cb2.v")} AS dot
       |  FROM shortlist s
       |  JOIN qbase qb ON qb.query_id = s.query_id
       |  JOIN cbase cb2 ON cb2.ck = s.cand_id),
       |semr AS (
       |  SELECT query_id, cand_id AS ckid, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot DESC, cand_id ASC) AS rn FROM rer)
       |  WHERE rn <= 20)""".stripMargin
  }

  /** The lexical arm (chunk BM25, top-20 as `lexr`) + the RRF fusion
    * tail ending at `sel` (fused top-10 per query at composite-key
    * grain) — reads whichever `semr` the chosen semantic arm defined.
    */
  /** The lexical arm (chunk BM25, top-20 as `lexr`) alone. */
  private val chunkLexArmCtes =
    s"""d AS (
       |  SELECT ck, CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS dl,
       |    string_split(chunk_text, ' ') AS toks
       |  FROM ch),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |qt AS (SELECT DISTINCT query_id, tok FROM qtokall),
       |tf AS (
       |  SELECT ck, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT ck, dl, unnest(toks) AS tok FROM d)
       |  GROUP BY 1, 2, 3),
       |hits AS (SELECT qt.query_id, tf.* FROM tf JOIN qt USING (tok)),
       |dfs AS (
       |  SELECT query_id, tok, CAST(count(*) AS BIGINT) AS df
       |  FROM hits GROUP BY 1, 2),
       |term AS (
       |  SELECT h.query_id, h.ck,
       |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
       |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
       |  FROM hits h JOIN dfs USING (query_id, tok) CROSS JOIN stats),
       |lexscored AS (
       |  SELECT query_id, ck,
       |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term GROUP BY 1, 2),
       |lexr AS (
       |  SELECT query_id, ck AS ckid, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, ck ASC) AS rn FROM lexscored)
       |  WHERE rn <= 20)""".stripMargin

  /** The RRF fusion tail over N arm rankings (each a CTE named in
    * `arms`, shaped (query_id, ckid, rn)) ending at `sel` — the fused
    * top-10 per query at composite-key grain. Parameterized so the
    * 2-arm (lex+sem) and 3-arm (lex+sem+QL) compositions share one
    * text.
    */
  private def chunkFusionTail(arms: Seq[String]): String = {
    val contribs = arms.map(a =>
      s"""  SELECT query_id, ckid,
         |    CAST(CAST(1.0 AS DOUBLE) / (60 + rn) AS DECIMAL(27,10)) AS rw
         |  FROM $a""".stripMargin).mkString("\n  UNION ALL\n")
    s"""contrib AS (
       |$contribs),
       |fused AS (
       |  SELECT query_id, ckid, CAST(count(*) AS BIGINT) AS n_rankers,
       |    CAST(sum(rw) AS DOUBLE) AS rrf
       |  FROM contrib GROUP BY 1, 2),
       |sel AS (
       |  SELECT query_id, ckid, n_rankers, rrf FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, ckid ASC) AS rn FROM fused)
       |  WHERE rn <= 10)""".stripMargin
  }

  private val chunkLexFusionCtes =
    s"""$chunkLexArmCtes,
       |${chunkFusionTail(Seq("lexr", "semr"))}""".stripMargin

  private val chunkHybridCtes =
    s"""$chunkPrefixCtes,
       |$chunkFloatArmCtes,
       |$chunkLexFusionCtes""".stripMargin

  private val chunkHybridPqCtes =
    s"""$chunkPrefixCtes,
       |$chunkPqArmCtes,
       |$chunkLexFusionCtes""".stripMargin

  /** Late-interaction maxsim CTEs over the PQ arm's shortlist (`semr`):
    * distinct shortlist-chunk tokens, padded-character-trigram token
    * vectors (Corpus.charTrigramEmbed's exact arithmetic), per-(query,
    * chunk, query-token) max cosine, DECIMAL-exact summed score
    * (`msim`), and the top-`kArm` arm ranking (`mxr`) for fusion.
    */
  private def maxSimCtes(kArm: Int): String =
    s"""stoks AS (
       |  SELECT DISTINCT s.query_id, s.ckid, c.tok
       |  FROM semr s JOIN ctok c ON c.ck = s.ckid),
       |qtd AS (SELECT DISTINCT query_id, tok FROM qtokall),
       |vocab AS (
       |  SELECT DISTINCT tok FROM (
       |    SELECT tok FROM stoks UNION ALL SELECT tok FROM qtd)),
       |tg AS (
       |  SELECT tok, unnest(list_transform(range(1, len(tok) + 1),
       |    i -> substr('^' || tok || '$$', i, 3))) AS g
       |  FROM vocab),
       |tgh AS (SELECT tok, ${md5long("g")} AS h FROM tg),
       |tgc AS (
       |  SELECT tok, CAST(h % 64 AS INTEGER) AS d,
       |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
       |  FROM tgh GROUP BY 1, 2),
       |tgd AS (
       |  SELECT k.tok, r.i, coalesce(s.v, 0.0) AS v
       |  FROM vocab k
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) r
       |  LEFT JOIN tgc s ON s.tok = k.tok AND s.d = r.i),
       |tvec AS (
       |  SELECT tok, v, list_sum(list_transform(v, x -> x * x)) AS nsq
       |  FROM (SELECT tok, list(v ORDER BY i) AS v FROM tgd GROUP BY 1)),
       |mxp AS (
       |  SELECT st.query_id, st.ckid, q.tok AS qtok,
       |    max(${dot64("qv.v", "cv.v")} / (sqrt(qv.nsq) * sqrt(cv.nsq))) AS mxc
       |  FROM stoks st
       |  JOIN qtd q ON q.query_id = st.query_id
       |  JOIN tvec qv ON qv.tok = q.tok
       |  JOIN tvec cv ON cv.tok = st.tok
       |  GROUP BY 1, 2, 3),
       |msim AS (
       |  SELECT query_id, ckid,
       |    CAST(sum(CAST(mxc AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM mxp GROUP BY 1, 2),
       |mxr AS (
       |  SELECT query_id, ckid, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, ckid ASC) AS rn FROM msim)
       |  WHERE rn <= $kArm)""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] LATE-INTERACTION re-rank — ColBERT maxsim bounded to the
  // shortlist: the PQ arm recalls top-20 spans cheaply, then ONLY those
  // spans pay token-level interaction (Σ over query tokens of the max
  // token-cosine in the chunk) under deterministic character-trigram
  // token vectors. The oracle replays chunking, the PQ probe, the exact
  // re-rank shortlist, the trigram token embeddings, every pairwise
  // token cosine, the max/Σ algebra, and the final ranking in ONE
  // statement.
  def q196ChunkMaxSim(spark: SparkSession, dir: String): DataFrame =
    Retrieval.maxSimRerankChunks(spark, Pq(cachedChunkPq(spark, dir)),
      MaxSim(Tables.documents(spark, dir), col("doc_id"), col("text")),
      chunkQueryBatch(spark), k = 10)

  private lazy val q196Sql =
    s"""$chunkPrefixCtes,
       |$chunkPqArmCtes,
       |${maxSimCtes(10)}
       |SELECT query_id, ckid // 4294967296 AS doc_id,
       |  ckid % 4294967296 AS chunk_start, score AS maxsim
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, ckid ASC) AS rn FROM msim)
       |WHERE rn <= 10
       |ORDER BY query_id, maxsim DESC, doc_id, chunk_start""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] FOUR-arm chunk fusion — the full late-interaction serving
  // unit: BM25 + Dirichlet QL (one pruned postings slice), the
  // PQ-shortlisted exact-dot arm, and the maxsim re-rank of that same
  // shortlist, RRF-fused at span grain. n_rankers reaches 4 where every
  // arm agrees. The oracle replays all four rankings and the fusion in
  // ONE statement.
  def q197ChunkHybridMaxSim(spark: SparkSession, dir: String): DataFrame =
    Retrieval.hybrid(spark, Hybrid(cachedChunkBm25(spark, dir),
      Pq(cachedChunkPq(spark, dir)), ql = Some(Retrieval.Mu),
      maxSim = Some(MaxSim(Tables.documents(spark, dir), col("doc_id"),
        col("text")))), chunkQueryBatch(spark), k = 10)

  private lazy val q197Sql =
    s"""$chunkPrefixCtes,
       |$chunkPqArmCtes,
       |$chunkLexArmCtes,
       |$chunkQlArmCtes,
       |${maxSimCtes(20)},
       |${chunkFusionTail(Seq("lexr", "qlr", "semr", "mxr"))}
       |SELECT query_id, ckid // 4294967296 AS doc_id,
       |  ckid % 4294967296 AS chunk_start, n_rankers, rrf
       |FROM sel ORDER BY query_id, rrf DESC, doc_id, chunk_start""".stripMargin

  /** The Dirichlet-QL arm at chunk grain (μ = 2000, top-20 as `qlr`):
    * candidates/cf/tf all come off `hits` — the same pruned (query,
    * posting) slice the BM25 arm reads, so the third ranker costs no
    * new artifact and no new corpus pass.
    */
  private val chunkQlArmCtes =
    s"""qcf AS (
       |  SELECT query_id, tok, CAST(sum(tf) AS BIGINT) AS cf
       |  FROM hits GROUP BY 1, 2),
       |qlcand AS (SELECT DISTINCT query_id, ck, dl FROM hits),
       |qlsc AS (
       |  SELECT c.query_id, c.ck,
       |    ln((CAST(coalesce(t.tf, 0) AS DOUBLE)
       |        + 2000.0 * (CAST(q.cf AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
       |       / (CAST(c.dl AS DOUBLE) + 2000.0)) AS s
       |  FROM qlcand c JOIN qcf q USING (query_id)
       |  LEFT JOIN hits t ON t.query_id = c.query_id AND t.ck = c.ck
       |    AND t.tok = q.tok
       |  CROSS JOIN stats),
       |qlscored AS (
       |  SELECT query_id, ck,
       |    CAST(sum(CAST(s AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM qlsc GROUP BY 1, 2),
       |qlr AS (
       |  SELECT query_id, ck AS ckid, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, ck ASC) AS rn FROM qlscored)
       |  WHERE rn <= 20)""".stripMargin

  /** 3-arm chunk fusion: BM25 + float-IVF cosine + Dirichlet QL. */
  private val chunkHybrid3Ctes =
    s"""$chunkPrefixCtes,
       |$chunkFloatArmCtes,
       |$chunkLexArmCtes,
       |$chunkQlArmCtes,
       |${chunkFusionTail(Seq("lexr", "semr", "qlr"))}""".stripMargin

  private val q169Sql =
    s"""$chunkHybridCtes
       |SELECT query_id, ckid // 4294967296 AS doc_id,
       |  ckid % 4294967296 AS chunk_start, n_rankers, rrf
       |FROM sel ORDER BY query_id, rrf DESC, doc_id, chunk_start""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] FILTERED chunk-grain hybrid — q169's serving composition with
  // ONE metadata gate (lang = 'en') on BOTH chunk arms: a span ranks
  // only if its DOCUMENT passes. Engine side the gate columns were
  // inherited by every chunk at build (postings metaCols on the lexical
  // arm, assignment metaCols on the semantic arm — no per-query
  // doc-meta join); each arm gates its FULL scored set before its
  // top-kEach (no starvation), df/idf stay index-global, and the fused
  // output keeps span-exact attribution. The oracle replays chunking,
  // embedding, IVF probe, chunk BM25, the gate on both arms, the
  // fusion, and the key decode in ONE statement (the gate joins a
  // ck→lang map — the oracle may derive the same result any way).
  def q187ChunkHybridFiltered(spark: SparkSession, dir: String): DataFrame = {
    val bm = graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25chunklang",
      Index.Bm25.artifact)(
      Index.build(Index.Bm25Spec(Index.Chunks(32, 16), metaCols = Seq("lang")),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)
    val iv = graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "chunkivflang",
      Index.Ivf.artifact)(
      Index.build(Index.IvfSpec(Index.Chunks(32, 16), metaCols = Seq("lang")),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)
    Retrieval.hybrid(spark, Hybrid(bm, Ivf(iv),
      predicate = Some(col("lang") === "en")), chunkQueryBatch(spark), k = 10)
  }

  private val q187Sql =
    s"""$chunkPrefixCtes,
       |cklang AS (
       |  SELECT doc_id * 4294967296 +
       |    unnest(range(1, len(string_split(text, ' ')) + 1, 16)) AS ck, lang
       |  FROM documents),
       |semscored AS (
       |  SELECT p.query_id, a.cand_id,
       |    ${dot64("p.qv", "a.cv")} / (sqrt(p.qnsq) * sqrt(a.cnsq)) AS sim
       |  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
       |  JOIN cklang kl ON kl.ck = a.cand_id
       |  WHERE a.cand_id <> p.query_id AND kl.lang = 'en'),
       |semr AS (
       |  SELECT query_id, cand_id AS ckid, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, cand_id ASC) AS rn FROM semscored)
       |  WHERE rn <= 20),
       |d AS (
       |  SELECT ck, CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS dl,
       |    string_split(chunk_text, ' ') AS toks
       |  FROM ch),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |qt AS (SELECT DISTINCT query_id, tok FROM qtokall),
       |tf AS (
       |  SELECT ck, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT ck, dl, unnest(toks) AS tok FROM d)
       |  GROUP BY 1, 2, 3),
       |hits AS (SELECT qt.query_id, tf.* FROM tf JOIN qt USING (tok)),
       |dfs AS (
       |  SELECT query_id, tok, CAST(count(*) AS BIGINT) AS df
       |  FROM hits GROUP BY 1, 2),
       |term AS (
       |  SELECT h.query_id, h.ck,
       |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
       |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
       |  FROM hits h JOIN dfs USING (query_id, tok)
       |  JOIN cklang kl ON kl.ck = h.ck
       |  CROSS JOIN stats
       |  WHERE kl.lang = 'en'),
       |lexscored AS (
       |  SELECT query_id, ck,
       |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term GROUP BY 1, 2),
       |lexr AS (
       |  SELECT query_id, ck AS ckid, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, ck ASC) AS rn FROM lexscored)
       |  WHERE rn <= 20),
       |${chunkFusionTail(Seq("lexr", "semr"))}
       |SELECT query_id, ckid // 4294967296 AS doc_id,
       |  ckid % 4294967296 AS chunk_start, n_rankers, rrf
       |FROM sel ORDER BY query_id, rrf DESC, doc_id, chunk_start""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] RAG context assembly — the step between retrieval and the
  // prompt, over the q169 fused ranking: cap chunks per doc (2),
  // interval-merge overlapping/adjacent co-ranked spans (stride 16 <
  // size 32 makes neighbors co-rank — the consumer wants each passage
  // once), clip ends to real doc length, and pack the ranking prefix
  // into a 96-token budget. Windows + one broadcast length join —
  // assembly cost is O(|Q|·k), independent of corpus size. The clip
  // lengths come from the doc-keyed FORWARD index (spans broadcast onto
  // the DPP-partitioned scan, column-pruned to (doc_id, dl)) — the
  // corpus-scan form re-tokenized every document per serving batch.
  // Same rows ⇒ same oracle SQL as before the index existed.
  private def cachedForward(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "fwdq", Index.Forward.artifact)(
      Index.build(Index.ForwardSpec(),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)

  def q170ContextPack(spark: SparkSession, dir: String): DataFrame = {
    val fused = q169ChunkHybrid(spark, dir)
      .select(col("query_id"), col("doc_id"), col("chunk_start"), col("rrf"))
    Retrieval.assembleContextIndexed(spark, fused, cachedForward(spark, dir),
      size = 32, budget = 96, maxPerDoc = 2)
  }

  private val q170Sql =
    s"""$chunkHybridCtes,
       |dec AS (
       |  SELECT query_id, ckid // 4294967296 AS doc_id,
       |    ckid % 4294967296 AS chunk_start, rrf
       |  FROM sel),
       |cap AS (
       |  SELECT query_id, doc_id, chunk_start, rrf FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
       |      ORDER BY rrf DESC, chunk_start ASC) AS cr FROM dec)
       |  WHERE cr <= 2),
       |mrk AS (
       |  SELECT *, chunk_start + 31 AS e,
       |    max(chunk_start + 31) OVER (PARTITION BY query_id, doc_id
       |      ORDER BY chunk_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM cap),
       |grp AS (
       |  SELECT *, sum(CASE WHEN pmax IS NULL OR chunk_start > pmax + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY query_id, doc_id
       |      ORDER BY chunk_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM mrk),
       |sp AS (
       |  SELECT query_id, doc_id, g, min(chunk_start) AS span_start,
       |    max(e) AS span_end0, CAST(count(*) AS BIGINT) AS n_chunks,
       |    max(rrf) AS score
       |  FROM grp GROUP BY 1, 2, 3),
       |dlen AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |cl AS (
       |  SELECT query_id, sp.doc_id, span_start,
       |    least(span_end0, n_tok) AS span_end, n_chunks, score
       |  FROM sp JOIN dlen ON dlen.doc_id = sp.doc_id),
       |pk AS (
       |  SELECT *, CAST(sum(span_end - span_start + 1) OVER (
       |      PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC, span_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tok
       |  FROM cl)
       |SELECT query_id, doc_id, span_start, span_end, n_chunks, score, cum_tok
       |FROM pk WHERE cum_tok <= 96
       |ORDER BY query_id, score DESC, doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] Dirichlet query-likelihood retrieval (Zhai & Lafferty 2001) —
  // the second classic ranker over the SAME inverted index: candidates
  // match ≥1 query term, each scored with the full smoothed likelihood
  // over every term (unmatched terms contribute their smoothing mass).
  // The oracle replays cf, the candidate grid, and the DECIMAL-exact
  // log-likelihood sums.
  def q175QlIndex(spark: SparkSession, dir: String): DataFrame =
    Retrieval.lexical(spark, Lexical(cachedBm25(spark, dir),
      ql = Some(Retrieval.Mu)), bmTerms, k = 20)

  private val q175Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |tf AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
      |  WHERE tok IN ('dup', 'spark', 'hash')
      |  GROUP BY 1, 2, 3),
      |cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
      |cand AS (SELECT DISTINCT doc_id, dl FROM tf),
      |sc AS (
      |  SELECT c.doc_id,
      |    CASE WHEN t.tf IS NULL THEN 0 ELSE 1 END AS matched,
      |    ln((CAST(coalesce(t.tf, 0) AS DOUBLE)
      |        + 2000.0 * (CAST(q.cf AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
      |       / (CAST(c.dl AS DOUBLE) + 2000.0)) AS s
      |  FROM cand c CROSS JOIN cf q
      |  LEFT JOIN tf t ON t.doc_id = c.doc_id AND t.tok = q.tok
      |  CROSS JOIN stats)
      |SELECT doc_id, CAST(sum(matched) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST(s AS DECIMAL(27,10))) AS DOUBLE) AS score
      |FROM sc GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] pseudo-relevance-feedback expansion (RM3-style, Lavrenko &
  // Croft 2001; uniform-weight requery) — rank 'dup' once, mine the
  // top-5 docs' postings for the 3 highest-mass co-occurring terms
  // (tf/dl weighted by feedback score, DECIMAL-exact cut), re-rank with
  // the expanded set. Index-only end to end; the oracle replays the
  // feedback ranking, the term mining, and the requery in ONE statement.
  // The mining pass rides the doc-keyed forward index (feedback ids
  // DPP-prune to their doc-shard dirs) instead of reading the postings
  // table corpus-wide — identical masses, so q174's oracle is unchanged.
  def q174Rm3Expand(spark: SparkSession, dir: String): DataFrame =
    Retrieval.rm3Expand(spark, cachedBm25(spark, dir), Seq("dup"),
      k = 20, kFb = 5, nExp = 3,
      forwardDir = Some(cachedForward(spark, dir)))

  private val q174Sql = {
    val bmTerm = (tfRel: String) =>
      s"""    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         |      * (CAST($tfRel.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
         |      / (CAST($tfRel.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |          * (0.25 + 0.75 * CAST($tfRel.dl AS DOUBLE)
         |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    string_split(text, ' ') AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |alltf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |  GROUP BY 1, 2, 3),
       |tf0 AS (SELECT * FROM alltf WHERE tok IN ('dup')),
       |dfs0 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf0 GROUP BY 1),
       |term0 AS (
       |  SELECT tf0.doc_id,
       |${bmTerm("tf0")} AS t
       |  FROM tf0 JOIN dfs0 USING (tok) CROSS JOIN stats),
       |fb AS (
       |  SELECT doc_id, CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term0 GROUP BY doc_id
       |  ORDER BY score DESC, doc_id ASC LIMIT 5),
       |wexp AS (
       |  SELECT tok,
       |    sum(CAST((CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) * score
       |        AS DECIMAL(27,10))) AS w
       |  FROM alltf JOIN fb USING (doc_id)
       |  WHERE tok NOT IN ('dup')
       |  GROUP BY tok ORDER BY w DESC, tok ASC LIMIT 3),
       |qt AS (SELECT tok FROM wexp UNION SELECT 'dup' AS tok),
       |tf1 AS (SELECT alltf.* FROM alltf JOIN qt USING (tok)),
       |dfs1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY 1),
       |term1 AS (
       |  SELECT tf1.doc_id,
       |${bmTerm("tf1")} AS t
       |  FROM tf1 JOIN dfs1 USING (tok) CROSS JOIN stats)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |FROM term1 GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------------
  // [EXT] RM3 expansion at CHUNK grain — q174's pseudo-relevance
  // feedback at the grain the RAG stack serves: feedback "documents"
  // are spans, term mass mines the chunk postings, and the requery's
  // synonym bridge surfaces a SPAN sharing no original term. The
  // composite key decodes to (doc_id, chunk_start). The oracle replays
  // the whole chain over the chunked corpus in ONE statement.
  def q182Rm3Chunks(spark: SparkSession, dir: String): DataFrame =
    Retrieval.rm3ExpandChunks(spark, cachedChunkBm25(spark, dir),
      Seq("dup"), k = 20, kFb = 5, nExp = 3)

  private val q182Sql = {
    val bmTerm = (tfRel: String) =>
      s"""    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         |      * (CAST($tfRel.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
         |      / (CAST($tfRel.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |          * (0.25 + 0.75 * CAST($tfRel.dl AS DOUBLE)
         |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
       |starts AS (
       |  SELECT doc_id, parts,
       |    unnest(range(1, len(parts) + 1, 16)) AS chunk_start
       |  FROM t),
       |ch AS (
       |  SELECT doc_id * 4294967296 + chunk_start AS ck,
       |    array_to_string(parts[chunk_start : chunk_start + 31], ' ') AS chunk_text
       |  FROM starts),
       |d AS (
       |  SELECT ck, CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS dl,
       |    string_split(chunk_text, ' ') AS toks
       |  FROM ch),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |alltf AS (
       |  SELECT ck, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT ck, dl, unnest(toks) AS tok FROM d)
       |  GROUP BY 1, 2, 3),
       |tf0 AS (SELECT * FROM alltf WHERE tok IN ('dup')),
       |dfs0 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf0 GROUP BY 1),
       |term0 AS (
       |  SELECT tf0.ck,
       |${bmTerm("tf0")} AS t
       |  FROM tf0 JOIN dfs0 USING (tok) CROSS JOIN stats),
       |fb AS (
       |  SELECT ck, CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term0 GROUP BY ck
       |  ORDER BY score DESC, ck ASC LIMIT 5),
       |wexp AS (
       |  SELECT tok,
       |    sum(CAST((CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) * score
       |        AS DECIMAL(27,10))) AS w
       |  FROM alltf JOIN fb USING (ck)
       |  WHERE tok NOT IN ('dup')
       |  GROUP BY tok ORDER BY w DESC, tok ASC LIMIT 3),
       |qt AS (SELECT tok FROM wexp UNION SELECT 'dup' AS tok),
       |tf1 AS (SELECT alltf.* FROM alltf JOIN qt USING (tok)),
       |dfs1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY 1),
       |term1 AS (
       |  SELECT tf1.ck,
       |${bmTerm("tf1")} AS t
       |  FROM tf1 JOIN dfs1 USING (tok) CROSS JOIN stats),
       |res AS (
       |  SELECT ck, CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term1 GROUP BY ck
       |  ORDER BY score DESC, ck ASC LIMIT 20)
       |SELECT ck // 4294967296 AS doc_id, ck % 4294967296 AS chunk_start,
       |  n_terms, score
       |FROM res ORDER BY score DESC, doc_id ASC, chunk_start ASC""".stripMargin
  }

  // ---------------------------------------------------------------------
  // [EXT] RAG context materialization — the packed spans fetched as the
  // STRINGS a prompt mounts: q170's coordinates slice their tokens off
  // the doc-keyed FORWARD index (spans broadcast onto the
  // DPP-partitioned scan — a serving batch reads the token bytes of the
  // documents it mounts, not the corpus). Concatenating span_text per
  // query in row order IS the context window. The oracle replays the
  // full chain + the slice.
  def q173ContextText(spark: SparkSession, dir: String): DataFrame =
    Retrieval.contextTextsIndexed(spark, q170ContextPack(spark, dir),
      cachedForward(spark, dir))

  private val q173Sql =
    s"""$chunkHybridCtes,
       |dec AS (
       |  SELECT query_id, ckid // 4294967296 AS doc_id,
       |    ckid % 4294967296 AS chunk_start, rrf
       |  FROM sel),
       |cap AS (
       |  SELECT query_id, doc_id, chunk_start, rrf FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
       |      ORDER BY rrf DESC, chunk_start ASC) AS cr FROM dec)
       |  WHERE cr <= 2),
       |mrk AS (
       |  SELECT *, chunk_start + 31 AS e,
       |    max(chunk_start + 31) OVER (PARTITION BY query_id, doc_id
       |      ORDER BY chunk_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM cap),
       |grp AS (
       |  SELECT *, sum(CASE WHEN pmax IS NULL OR chunk_start > pmax + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY query_id, doc_id
       |      ORDER BY chunk_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM mrk),
       |sp AS (
       |  SELECT query_id, doc_id, g, min(chunk_start) AS span_start,
       |    max(e) AS span_end0, max(rrf) AS score
       |  FROM grp GROUP BY 1, 2, 3),
       |dlen AS (
       |  SELECT doc_id, CAST(len(parts) AS BIGINT) AS n_tok, parts FROM t),
       |cl AS (
       |  SELECT query_id, sp.doc_id, span_start,
       |    least(span_end0, n_tok) AS span_end, score, parts
       |  FROM sp JOIN dlen ON dlen.doc_id = sp.doc_id),
       |pk AS (
       |  SELECT *, CAST(sum(span_end - span_start + 1) OVER (
       |      PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC, span_start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tok
       |  FROM cl)
       |SELECT query_id, doc_id, span_start, span_end, score,
       |  array_to_string(parts[span_start : span_end], ' ') AS span_text
       |FROM pk WHERE cum_tok <= 96
       |ORDER BY query_id, score DESC, doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] hybrid fusion with the COMPRESSED semantic arm — q166's
  // composition upgraded to the engine's declared ANN scale path: the
  // semantic arm probes the persisted IVF-PQ index (ADC scan over
  // m-code rows, ~1/32 the float bytes) and re-ranks its k·alpha
  // shortlist with exact dots (q158's two-stage shape), then RRF fuses
  // with the BM25 arm. This is the serving pair a 100 TB deployment
  // actually runs. The oracle replays the ADC shortlist, the exact
  // re-rank, BM25, and the fusion in ONE statement.
  def q171HybridPqRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq((0L, Seq("dup", "spark")), (1L, Seq("hash", "join", "table")))
      .toDF("query_id", "terms")
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("vec"))
    Retrieval.hybrid(spark, Hybrid(cachedBm25(spark, dir),
      Pq(SimQueries.cachedIvfPqIndex(spark, dir), Some(4), nProbes = 4)),
      terms.join(vecs, Seq("query_id")), k = 10)
  }

  private val q171Sql =
    s"""${SimQueries.ivfPqScoredSqlFor("b.vec_id < 2")},
       |shortlist AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY pqdot DESC, cand_id ASC) AS rn FROM scored)
       |  WHERE rn <= 80),
       |rer AS (
       |  SELECT s.query_id, s.cand_id,
       |    list_sum(list_transform(range(1, 65),
       |      i -> qb.v[i] * cb2.v[i])) AS dot
       |  FROM shortlist s
       |  JOIN base qb ON qb.vec_id = s.query_id
       |  JOIN base cb2 ON cb2.vec_id = s.cand_id),
       |semr AS (
       |  SELECT query_id, cand_id AS doc_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot DESC, cand_id ASC) AS rn FROM rer)
       |  WHERE rn <= 20),
       |q AS (
       |  SELECT * FROM (VALUES (CAST(0 AS BIGINT), ['dup', 'spark']),
       |                        (CAST(1 AS BIGINT), ['hash', 'join', 'table']))
       |    AS v(query_id, terms)),
       |qt AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM q),
       |d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    string_split(text, ' ') AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |tf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |  GROUP BY 1, 2, 3),
       |hits AS (SELECT qt.query_id, tf.* FROM tf JOIN qt USING (tok)),
       |dfs AS (
       |  SELECT query_id, tok, CAST(count(*) AS BIGINT) AS df
       |  FROM hits GROUP BY 1, 2),
       |term AS (
       |  SELECT h.query_id, h.doc_id,
       |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
       |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
       |  FROM hits h JOIN dfs USING (query_id, tok) CROSS JOIN stats),
       |lexscored AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
       |  FROM term GROUP BY 1, 2),
       |lexr AS (
       |  SELECT query_id, doc_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rn FROM lexscored)
       |  WHERE rn <= 20),
       |contrib AS (
       |  SELECT query_id, doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rn) AS DECIMAL(27,10)) AS rw
       |  FROM lexr
       |  UNION ALL
       |  SELECT query_id, doc_id,
       |    CAST(CAST(1.0 AS DOUBLE) / (60 + rn) AS DECIMAL(27,10)) AS rw
       |  FROM semr),
       |fusedh AS (
       |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_rankers,
       |    CAST(sum(rw) AS DOUBLE) AS rrf
       |  FROM contrib GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_rankers, rrf FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id ASC) AS rn FROM fusedh)
       |WHERE rn <= 10
       |ORDER BY query_id, rrf DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // [EXT] multi-query BM25 over the PARTITION postings layout — the
  // dynamic-term-set bytes lever (the q162 pattern applied to lexical
  // serving): postings land in token-shard DIRECTORIES (tok_part =
  // md5(tok) mod 16), the broadcast term join carries the shard key, so
  // a storage-backed query batch dynamically prunes unprobed shards'
  // bytes (DPP — PLAN_AUDIT shows the dynamicpruning subquery) where the
  // bucketed layout had to scan all postings bytes for terms that
  // arrive as data. Identical scores by construction → q153's oracle.
  private def cachedBm25Part(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25partq",
      Index.Bm25.artifact)(
      Index.build(Index.Bm25Spec(layout = "partition"),
        Index.Text(Tables.documents(spark, dir), col("doc_id"), col("text")),
          _): Unit)

  def q172Bm25ManyPart(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qdf = Seq((1L, Seq("dup", "spark")), (2L, Seq("hash", "join", "table")))
      .toDF("query_id", "terms")
    Retrieval.queryBm25IndexMany(spark, cachedBm25Part(spark, dir), qdf, k = 10)
  }

  // ---------------------------------------------------------------------
  // [EXT] df-CAPPED BM25 — a stop list at index build, the
  // maxShingleFreq analogue at the lexical layer (judge task r13): a
  // Zipf-skewed corpus's stop tokens carry corpus-sized postings lists,
  // so one stop-bearing query makes the "pruned" probe slice scale with
  // the corpus (8-9x bytes at 10x on sf0.01, SURVEY 9.1; at sf0.001 the
  // stop postings are too small to dominate a shard, so ScalingSpec
  // bm25_zipf gates only the capped probe's sub-linear bytes) while their
  // score contribution is ~zero idf anyway. heavyTokens derives the
  // df > 0.5·N set, the build drops those postings — stats stay TRUE
  // corpus stats, so every SURVIVING term scores exactly as on the
  // uncapped index — and the frozen set rides a stamped sidecar that
  // appends filter with. The oracle replays the derivation AND the
  // capped scoring: a fully-stopped query returns nothing, a mixed
  // query ranks by its surviving terms alone — the documented recall
  // trade, hash-checked.
  private def cachedBm25Stopped(spark: SparkSession, dir: String): String =
    graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "bm25stopq",
      Index.Bm25.artifact)(d => {
      val docs = Tables.documents(spark, dir)
      // the stop set is vocabulary-bounded and tiny (df > half the
      // corpus); collecting it is build-cadence wiring, not a query path
      val stops = Retrieval.heavyTokens(docs, col("doc_id"), col("text"),
        maxDfRatio = 0.5).select("tok").collect().map(_.getString(0)).toSeq
      // the recorded ratio opts the index into stop-list RE-DERIVATION
      // at compaction (post-build boilerplate gets capped on the daily
      // cadence instead of never)
      Index.build(Index.Bm25Spec(layout = "partition", stopTokens = stops,
        stopMaxDfRatio = Some(0.5)),
        Index.Text(docs, col("doc_id"), col("text")), d): Unit
    })

  def q183Bm25Stopped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qdf = Seq((1L, Seq("batch", "dup")), (2L, Seq("small", "spark")))
      .toDF("query_id", "terms")
    Retrieval.queryBm25IndexMany(spark, cachedBm25Stopped(spark, dir),
      qdf, k = 10)
  }

  private val q183Sql =
    """WITH q AS (
      |  SELECT * FROM (VALUES (CAST(1 AS BIGINT), ['batch', 'dup']),
      |                        (CAST(2 AS BIGINT), ['small', 'spark']))
      |    AS v(query_id, terms)),
      |qt AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM q),
      |d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
      |stops AS (
      |  SELECT tok FROM (
      |    SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |    FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1) s
      |  CROSS JOIN stats
      |  WHERE CAST(df AS DOUBLE) > 0.5 * CAST(n_docs AS DOUBLE)),
      |tf AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
      |  GROUP BY 1, 2, 3),
      |hits AS (
      |  SELECT qt.query_id, tf.* FROM tf JOIN qt USING (tok)
      |  WHERE tok NOT IN (SELECT tok FROM stops)),
      |dfs AS (
      |  SELECT query_id, tok, CAST(count(*) AS BIGINT) AS df
      |  FROM hits GROUP BY 1, 2),
      |term AS (
      |  SELECT h.query_id, h.doc_id,
      |    ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |          * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS t
      |  FROM hits h JOIN dfs USING (query_id, tok) CROSS JOIN stats),
      |scored AS (
      |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(CAST(t AS DECIMAL(27,10))) AS DOUBLE) AS score
      |  FROM term GROUP BY 1, 2)
      |SELECT query_id, doc_id, n_terms, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS rn FROM scored)
      |WHERE rn <= 10
      |ORDER BY query_id, score DESC, doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_bm25"         -> (q146Bm25 _),
    "q147_bm25_index"   -> (q147Bm25Index _),
    "q148_zorder_key"   -> (q148ZorderKey _),
    "q152_phrase_index" -> (q152PhraseIndex _),
    "q153_bm25_many"    -> (q153Bm25Many _),
    "q166_hybrid_rrf"   -> (q166HybridRrf _),
    "q185_bm25_filtered" -> (q185Bm25Filtered _),
    "q186_hybrid_filtered" -> (q186HybridFiltered _),
    "q187_chunk_hybrid_filtered" -> (q187ChunkHybridFiltered _),
    "q188_takedown_bm25" -> (q188TakedownBm25 _),
    "q191_supersede_bm25" -> (q191SupersedeBm25 _),
    "q193_supersede_lineage" -> (q193SupersedeLineage _),
    "q194_takedown_audit" -> (q194TakedownAudit _),
    "q189_bm25_facets" -> (q189Bm25Facets _),
    "q190_chunk_facets" -> (q190ChunkFacets _),
    "q167_chunk_bm25"   -> (q167ChunkBm25 _),
    "q168_chunk_index"  -> (q168ChunkIndex _),
    "q169_chunk_hybrid" -> (q169ChunkHybrid _),
    "q170_context_pack" -> (q170ContextPack _),
    "q171_hybrid_pq_rerank" -> (q171HybridPqRerank _),
    "q172_bm25_many_part" -> (q172Bm25ManyPart _),
    "q173_context_text" -> (q173ContextText _),
    "q174_rm3_expand" -> (q174Rm3Expand _),
    "q175_ql_index" -> (q175QlIndex _),
    "q179_chunk_hybrid_pq" -> (q179ChunkHybridPq _),
    "q180_chunk_hybrid_3arm" -> (q180ChunkHybrid3 _),
    "q181_context_model_pack" -> (q181ContextModelPack _),
    "q182_rm3_chunks" -> (q182Rm3Chunks _),
    "q183_bm25_stopped" -> (q183Bm25Stopped _),
    "q196_chunk_maxsim" -> (q196ChunkMaxSim _),
    "q197_chunk_hybrid_maxsim" -> (q197ChunkHybridMaxSim _))

  val oracle: Map[String, String] = Map(
    "q146_bm25"         -> q146Sql,
    "q147_bm25_index"   -> q146Sql,
    "q148_zorder_key"   -> q148Sql,
    "q152_phrase_index" -> q152Sql,
    "q153_bm25_many"    -> q153Sql,
    "q166_hybrid_rrf"   -> q166Sql,
    "q185_bm25_filtered" -> q185Sql,
    "q186_hybrid_filtered" -> q186Sql,
    "q187_chunk_hybrid_filtered" -> q187Sql,
    "q188_takedown_bm25" -> q188Sql,
    "q191_supersede_bm25" -> q191Sql,
    "q193_supersede_lineage" -> q193Sql,
    "q194_takedown_audit" -> q194Sql,
    "q189_bm25_facets" -> q189Sql,
    "q190_chunk_facets" -> q190Sql,
    "q167_chunk_bm25"   -> q167Sql,
    // the persisted chunk index replays q167's inline pipeline
    "q168_chunk_index"  -> q167Sql,
    "q169_chunk_hybrid" -> q169Sql,
    "q170_context_pack" -> q170Sql,
    "q171_hybrid_pq_rerank" -> q171Sql,
    // the partition layout scores identically to the bucketed index
    "q172_bm25_many_part" -> q153Sql,
    "q173_context_text" -> q173Sql,
    "q174_rm3_expand" -> q174Sql,
    "q175_ql_index" -> q175Sql,
    "q179_chunk_hybrid_pq" -> q179Sql,
    "q180_chunk_hybrid_3arm" -> q180Sql,
    "q181_context_model_pack" -> q181Sql,
    "q182_rm3_chunks" -> q182Sql,
    "q183_bm25_stopped" -> q183Sql,
    "q196_chunk_maxsim" -> q196Sql,
    "q197_chunk_hybrid_maxsim" -> q197Sql)
}
