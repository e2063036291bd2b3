package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import Stage.StagedOps

/** Corpus-level text operators for training-data pipelines: TF-IDF
  * scoring, overlapping token chunking, corpus n-gram statistics,
  * pattern scrubbing, and deterministic stratified sampling.
  *
  * Scale shape: everything is explode → hash-aggregate → (broadcast)
  * join. The only corpus-global state is the document count N (a 1-row
  * aggregate, broadcast by construction) and the document-frequency
  * table (|vocabulary| rows — orders of magnitude smaller than the
  * token stream it aggregates).
  */
object Corpus {

  /** (doc_id, tok) token stream — the base relation for corpus stats. */
  def tokenStream(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(TextOps.tokens(text)).as("tok"))

  /** TF-IDF per (doc, term): tf(d,t) · ln(N / df(t)). Plain (unsmoothed)
    * IDF — matches the textbook form an oracle can recompute. Two hash
    * aggregations over the token stream plus one join; df is vocabulary-
    * sized, so Catalyst/AQE broadcasts it against the tf table.
    */
  def tfidf(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = tokenStream(docs, id, text)
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // document frequency derives from tf — its rows are already distinct
    // (doc, term) pairs, so df is a plain count: one shuffle over the
    // compact tf table instead of a countDistinct (2 shuffles) over the
    // full token stream.
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n  = docs.agg(count(lit(1)).as("n"))
    tf.join(df, Seq("tok"))
      .crossJoin(n)
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n").cast("double") / col("df").cast("double")))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("tfidf"))
  }

  /** Highest-TF-IDF term per document, deterministic (score desc, then
    * lexicographically smallest term).
    */
  def topTermPerDoc(docs: DataFrame, id: Column, text: Column): DataFrame =
    Ranking.topPerGroup(tfidf(docs, id, text), Seq(col("doc_id")),
      Seq(col("tfidf").desc, col("tok").asc), 1)
      .select(col("doc_id"), col("tok").as("top_term"), col("tfidf"))

  /** Overlapping token chunks: windows of `size` tokens starting every
    * `stride` tokens (stride < size ⇒ overlap = size - stride). The
    * chunk spine comes from sequence+explode — pure per-row generation,
    * no shuffle; a 100 TB corpus chunks map-side only.
    *
    * Output: doc_id, chunk_start (1-based), n_tok, chunk_text.
    */
  def chunk(docs: DataFrame, id: Column, text: Column,
            size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0)
    val toks = TextOps.tokens(text)
    docs
      .select(id.as("doc_id"), toks.as("toks"), org.apache.spark.sql.functions.size(toks).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(1), col("n"), lit(stride))).as("chunk_start"))
      .select(col("doc_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        least(lit(size), col("n") - col("chunk_start") + 1).cast("long").as("n_tok"),
        array_join(slice(col("toks"), col("chunk_start"), lit(size)), " ").as("chunk_text"))
  }

  /** Corpus-wide n-gram (bigram) frequency. Shingle construction reuses
    * the zip_with-over-slices shape from [[NearDup.shingles3]] — slice
    * args evaluate once per row, never per element.
    */
  def bigramCounts(docs: DataFrame, text: Column): DataFrame = {
    val t = TextOps.tokens(text)
    val m = org.apache.spark.sql.functions.size(t) - 1
    val bigrams = when(org.apache.spark.sql.functions.size(t) >= 2,
      zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
        (x, y) => concat(x, lit(" "), y))).otherwise(array())
    docs.select(explode(bigrams).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
  }

  /** Mask every run of characters matching `pattern` with `replacement`
    * and report how many characters were masked. Spark's regexp_replace
    * is global (DuckDB needs the 'g' flag to match).
    */
  def scrub(c: Column, pattern: String, replacement: String): Column =
    regexp_replace(c, pattern, replacement)

  /** Feature-hashed bag-of-tokens embedding (the "hashing trick",
    * Weinberger et al., ICML 2009) — the engine's deterministic,
    * SQL-replayable stand-in for a neural text encoder: token t adds
    * sign(t) ∈ {±1} to dimension h(t) mod `dim`, with h and the sign
    * bit both off the engine's md5 hash family (cross-engine stable,
    * unlike Spark's murmur hash()). Cosine over these vectors tracks
    * token-multiset similarity, and because every component is a small
    * integer, downstream dots and norms are EXACT in double — a whole
    * ANN ranking over hashed embeddings hash-matches in SQL.
    *
    * Output: (id, vec array<double> of length `dim`). Scale shape: one
    * explode + a two-level hash aggregation (map-side partials); the
    * dense array assembles from the ≤dim observed cells per id, so the
    * only corpus-wide move is the groupBy(id) shuffle any per-document
    * reduction pays.
    */
  def hashEmbed(df: DataFrame, id: Column, text: Column,
                dim: Int = 64): DataFrame = {
    require(dim > 0, s"embedding dim must be positive, got $dim")
    df.select(id.as("id"), explode(TextOps.tokens(text)).as("__tok"))
      .select(col("id"),
        conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long").as("h"))
      // sign bit = (h div dim) mod 2 — h is nonneg (md5-derived < 2^32,
      // double-exact), so the truncating cast matches SQL's // floor
      .select(col("id"), (col("h") % dim).cast("int").as("d"),
        when((col("h") / dim).cast("long") % 2 === 0, lit(1.0))
          .otherwise(lit(-1.0)).as("s"))
      .groupBy(col("id"), col("d")).agg(sum(col("s")).as("v"))
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("d"), col("v")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("vec"))
  }

  /** Character-trigram hashing-trick embedding of TOKEN strings — the
    * per-token encoder behind the late-interaction (maxsim) re-rank
    * ([[Retrieval.maxSimRerankChunks]]): each token embeds as the
    * signed-one-hot sum of its padded character trigrams
    * (`^token$` windows of 3), so identical tokens score cosine 1 and
    * morphological variants score high — the deterministic,
    * SQL-replayable stand-in for per-token neural vectors, exactly as
    * [[hashEmbed]] stands in for a document encoder. Every token has
    * ≥ 1 trigram (the padding), so norms are never zero. Input: any
    * relation with the token column; output one row per DISTINCT
    * token: (tok, vec array<double>, nsq).
    */
  def charTrigramEmbed(toks: DataFrame, tok: Column,
                       dim: Int = 64): DataFrame = {
    require(dim > 0, s"embedding dim must be positive, got $dim")
    toks.select(tok.as("tok")).distinct()
      // stage the padded form OUTSIDE the lambda: an unbound computed
      // subexpression inside a HOF body re-evaluates per element
      .select(col("tok"), concat(lit("^"), col("tok"), lit("$")).as("__pad"))
      .select(col("tok"), explode(transform(
        sequence(lit(1), length(col("tok"))),
        i => col("__pad").substr(i, lit(3)))).as("g"))
      .select(col("tok"),
        conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long").as("h"))
      .select(col("tok"), (col("h") % dim).cast("int").as("d"),
        when((col("h") / dim).cast("long") % 2 === 0, lit(1.0))
          .otherwise(lit(-1.0)).as("s"))
      .groupBy(col("tok"), col("d")).agg(sum(col("s")).as("v"))
      .groupBy(col("tok"))
      .agg(map_from_entries(collect_list(struct(col("d"), col("v")))).as("m"))
      .select(col("tok"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("vec"))
      .withColumn("nsq", graft.functions.VectorOps.normSq(col("vec")))
  }

  /** Deterministic hash bucket in [0, 100): md5 of the key's string form
    * — stable across engines, runs, and physical layout, which
    * rand(seed)-based sampling is not (row order dependence).
    */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Stratified deterministic sample: keep rows whose hash bucket falls
    * below `pct` — the per-stratum rate converges to pct/100 without any
    * per-stratum state or second pass.
    */
  def stratifiedSample(df: DataFrame, key: Column, pct: Int): DataFrame =
    df.filter(hashBucket(key) < pct)

  /** [[hashBucket]] at basis-point granularity ([0, 10000)) — the
    * resolution fractional mixture weights need.
    */
  private def fineBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 10000

  /** Deterministic training-mixture sampling — the Pile/Dolma-style
    * step that turns per-domain mixture weights into a concrete corpus:
    * a domain with weight `w` contributes `floor(w)` full copies of
    * every document ("epochs", upsampling) plus a deterministic
    * `frac(w)` sample of one more; `w < 1` downsamples, a domain absent
    * from `weights` is dropped (weight 0). The fractional arm keys on
    * the md5 basis-point bucket of `id` — stable across engines, runs,
    * and layout, where `rand(seed)` is not. Fractions are honored to
    * 1/10000 (weights are rounded to basis points).
    *
    * Scale shape: ZERO shuffles — the weight table is a broadcast of
    * |domains| rows, the epoch fan-out is sequence+explode, and both
    * run map-side over the corpus scan. Output = the input columns
    * plus `epoch` (0-based copy number; a doc's fractional-arm copy is
    * its highest epoch).
    */
  def mixtureSample(df: DataFrame, domain: Column, id: Column,
                    weights: Map[String, Double]): DataFrame = {
    require(weights.values.forall(w => w >= 0.0 && w <= 1000.0),
      "mixture weights must be in [0, 1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val lookup = weights.toSeq.map { case (d, w) =>
      val full = math.floor(w).toInt
      (d, full, math.round((w - full) * 10000).toInt)
    }.toDF("mix_domain", "mix_full", "mix_frac_bp")
    df.join(broadcast(lookup), domain === col("mix_domain"))
      .withColumn("mix_n", col("mix_full") +
        when(fineBucket(id) < col("mix_frac_bp"), 1).otherwise(0))
      .filter(col("mix_n") > 0)
      .withColumn("epoch", explode(sequence(lit(0), col("mix_n") - 1)))
      .drop("mix_domain", "mix_full", "mix_frac_bp", "mix_n")
  }

  /** Training-sequence packing — the GPT-style "concatenate and chunk"
    * step that turns a curated corpus into fixed-`budget`-token training
    * sequences: conceptually, every document's tokens are laid end to
    * end in doc-id order and the stream is cut every `budget` tokens;
    * the output maps each document to the sequence(s) it lands in, with
    * the 1-based token span it contributes. A document longer than the
    * budget (or one straddling a cut) spans several sequences.
    *
    * Scale shape: the global running token offset is the whole problem —
    * `sum() OVER (ORDER BY doc_id)` with no partition key funnels the
    * corpus through ONE task. This uses [[Stats]]' slice machinery
    * instead: a range shuffle on doc_id places contiguous doc slices on
    * partitions, a per-slice window computes local prefix sums in
    * parallel, and cross-slice offsets come from an O(partitions) side
    * table — the only unpartitioned window runs over ~32 rows. The
    * ranged table is materialized once (`localCheckpoint`) because
    * range-partition boundaries are sampled and both consumers must
    * read the same placement. Doc→sequence fan-out is sequence+explode,
    * pure per-row generation. Offsets are exact: token totals stay far
    * below 2^53, so the floor-division stays integer-exact.
    *
    * Output: (seq_id 0-based, doc_id, doc_tok_start 1-based,
    * n_tok_in_seq) — one row per (sequence, document) overlap.
    */
  def packSequences(docs: DataFrame, id: Column, text: Column,
                    budget: Int): DataFrame =
    packSequencesCounted(
      docs.select(id.as("doc_id"), TextOps.tokenCount(text).as("n_tok")),
      budget)

  /** [[packSequences]] over PRECOMPUTED per-document token counts —
    * the seam that lets the packing budget count MODEL tokens instead
    * of whitespace words: feed it
    * [[graft.operators.Bpe.tokenCountsWithModel]]'s (doc_id, n_tok)
    * and the cut points land every `budget` BPE ids, which is what a
    * trainer's fixed-context loader actually consumes. Input: exactly
    * (doc_id, n_tok); same output contract and slice-machinery scale
    * shape as [[packSequences]].
    */
  def packSequencesCounted(counts: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val d = counts.select(col("doc_id"), col("n_tok"))
    val ranged = d.repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val slice = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("doc_id"))
    val local = ranged.withColumn("cum_in_slice",
      sum(col("n_tok")).over(slice.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    // BOUNDED single-partition window: input is the per-slice total
    // table — exactly one row per shuffle partition of `ranged`
    // (groupBy(pid) of spark_partition_id()), i.e. O(partitions) rows
    // ≪ corpus at any scale. The [[BoundedWindow]] key keeps the
    // identical single-partition semantics while stating the bound
    // (and keeping WindowExec's corpus-scale warning meaningful).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(BoundedWindow.key(col("pid"))).orderBy(col("pid"))
    val offsets = ranged.groupBy(col("pid")).agg(sum(col("n_tok")).as("scnt"))
      .select(col("pid").as("o_pid"),
        coalesce(sum(col("scnt")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)).as("off"))
    local.join(broadcast(offsets), col("pid") === col("o_pid"))
      .select(col("doc_id"), col("n_tok"),
        (col("off") + col("cum_in_slice") - col("n_tok")).as("tok_start"))
      .select(col("doc_id"), col("n_tok"), col("tok_start"),
        explode(sequence(
          floor(col("tok_start") / budget),
          floor((col("tok_start") + col("n_tok") - 1) / budget))).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        (greatest(lit(0L), col("seq_id") * budget - col("tok_start")) + 1)
          .as("doc_tok_start"),
        (least((col("seq_id") + 1) * budget, col("tok_start") + col("n_tok"))
          - greatest(col("seq_id") * budget, col("tok_start")))
          .as("n_tok_in_seq"))
  }

  /** Materialized training sequences — [[packSequences]]' spans joined
    * back to the documents and assembled into the actual fixed-budget
    * sequence texts a trainer reads. Each document's contribution is a
    * token slice (map-side, after one equality join on doc_id); a
    * sequence's text is the doc-id-ordered concatenation of its pieces
    * (one per-seq aggregation, bounded by budget tokens — no window).
    *
    * Output: (seq_id, n_tok, n_docs, seq_text).
    */
  def packedSequenceTexts(docs: DataFrame, id: Column, text: Column,
                          budget: Int): DataFrame = {
    val spans = packSequences(docs, id, text, budget)
    val toks = docs.select(id.as("doc_id"), TextOps.tokens(text).as("toks"))
    spans.join(toks, Seq("doc_id"))
      .select(col("seq_id"), col("doc_id"), col("n_tok_in_seq"),
        array_join(slice(col("toks"), col("doc_tok_start").cast("int"),
          col("n_tok_in_seq").cast("int")), " ").as("piece"))
      .groupBy(col("seq_id"))
      .agg(sum(col("n_tok_in_seq")).as("n_tok"),
        count(lit(1)).as("n_docs"),
        array_join(
          transform(sort_array(collect_list(struct(col("doc_id"), col("piece")))),
            c => c("piece")),
          " ").as("seq_text"))
  }

  /** Chunk-level exact dedup — the C4/RefinedWeb "drop duplicated
    * paragraphs" rule at token-window granularity (the corpus has no
    * paragraph breaks, so the unit is a non-overlapping `size`-token
    * chunk): every distinct chunk text keeps only its FIRST occurrence
    * corpus-wide (min (doc_id, chunk_start)), and each document is
    * reassembled from its surviving chunks. Documents whose every chunk
    * is a duplicate of an earlier one vanish entirely — the boilerplate
    * sink the rule exists for.
    *
    * Scale shape: chunking is map-side ([[chunk]]); first-occurrence is
    * a hash aggregation keyed on the chunk's md5 (the shuffle carries
    * (hash, doc_id, chunk_start) — never the text); survivors come back
    * via an equality join on (doc_id, chunk_start); reassembly is one
    * per-doc aggregation (sort_array over a doc's own chunks — bounded
    * by doc length, no window).
    *
    * Output: (doc_id, n_kept, clean_text).
    */
  def dedupChunks(docs: DataFrame, id: Column, text: Column,
                  size: Int): DataFrame = {
    val hashed = chunk(docs, id, text, size, size)
      .select(col("doc_id"), col("chunk_start"), col("chunk_text"),
        md5(col("chunk_text")).as("h"))
    val first = hashed
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk_start"))).as("k"))
      .select(col("k")("doc_id").as("doc_id"),
        col("k")("chunk_start").as("chunk_start"))
    hashed.join(first, Seq("doc_id", "chunk_start"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("chunk_start"), col("chunk_text")))),
            c => c("chunk_text")),
          " ").as("clean_text"))
  }

  /** Per-document repetition statistics — the word-level half of the
    * Gopher/MassiveText repetition rules (Rae et al. 2021, Appendix A:
    * "fraction of characters in the most common n-gram", duplicate
    * ratios): type-token ratio, most-common-token fraction, and
    * most-common-bigram fraction, plus a combined repetitive? verdict.
    *
    * Shape: token explode → (doc, token) hash agg → per-doc agg, and
    * the zip_with bigram construction (map-side, no window) → same two-
    * level agg. Both shuffles key on doc_id(+gram): fully partial-
    * aggregated, skew-free (docs are the unit of work), no windows over
    * unpartitioned data — the per-doc stats pipeline at corpus scale.
    */
  def repetitionStats(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val t = TextOps.tokens(text)
    val base = docs.select(id.as("doc_id"), t.as("toks"))
    val tokStats = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_tok_n"))
    val m = org.apache.spark.sql.functions.size(col("toks")) - 1
    val bigrams = when(org.apache.spark.sql.functions.size(col("toks")) >= 2,
      zip_with(slice(col("toks"), lit(1), m), slice(col("toks"), lit(2), m),
        (x, y) => concat(x, lit(" "), y))).otherwise(array())
    val biStats = base
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        max(col("c")).as("top_bigram_n"),
        sum(col("c")).as("n_bigrams"))
    tokStats.join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct").cast("long").as("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"),
        (col("top_tok_n").cast("double") / col("n_tokens")).as("top_token_frac"),
        coalesce(col("top_bigram_n").cast("double") / col("n_bigrams"), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** ROW-LOCAL repetition statistics over a token-array column — the
    * same three ratios as [[repetitionStats]] computed entirely with
    * array HOFs: zero shuffles, so it runs inside a streaming filter
    * chain (or any map-only batch stage) where the two-level hash agg
    * cannot. Cost trade: O(tokens·distinct) compute per row instead of
    * two shuffles over the corpus — the right side of that trade for
    * per-doc gating, the wrong one for corpus-wide reporting (q90/q91
    * keep the agg form).
    *
    * `toks` MUST be a materialized column (withColumn first), not an
    * inline expression — a HOF lambda body re-evaluates any unbound
    * subexpression once per array element.
    *
    * Returns struct(distinct_ratio, top_token_frac, top_bigram_frac),
    * value-identical to [[repetitionStats]] (spec-proven).
    */
  def repetitionStatsLocal(toks: Column): Column = {
    val n = size(toks)
    val dist = array_distinct(toks)
    val topTok = array_max(transform(dist, d =>
      size(filter(toks, x => x === d))))
    val m = n - 1
    val bigrams = when(n >= 2,
      zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => concat(a, lit(" "), b))).otherwise(array())
    val nBg = size(bigrams)
    val topBg = array_max(transform(array_distinct(bigrams), d =>
      size(filter(bigrams, x => x === d))))
    struct(
      (size(dist).cast("double") / n.cast("double")).as("distinct_ratio"),
      (topTok.cast("double") / n.cast("double")).as("top_token_frac"),
      when(nBg > 0, topBg.cast("double") / nBg.cast("double"))
        .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Gopher-style repetitive-document verdict over [[repetitionStats]]
    * columns (default thresholds tuned to the public rules' spirit;
    * every input is an exact integer ratio, so the comparisons are
    * engine-stable). Thresholds are per-corpus dials — a code corpus
    * tolerates more repetition than prose — so they're parameters with
    * the published defaults, not constants.
    */
  def isRepetitive(distinctRatio: Column, topTokenFrac: Column,
                   topBigramFrac: Column,
                   minDistinctRatio: Double = 0.3,
                   maxTopTokenFrac: Double = 0.2,
                   maxTopBigramFrac: Double = 0.1): Column =
    distinctRatio < lit(minDistinctRatio) ||
      topTokenFrac > lit(maxTopTokenFrac) ||
      topBigramFrac > lit(maxTopBigramFrac)

  /** CCNet-style corpus-LM quality scoring (Wenzek et al. 2020 — the
    * "perplexity filter" every public pretraining pipeline runs):
    * every document is scored by the average log-likelihood of its
    * bigram instances under an add-one-smoothed bigram model trained
    * on the corpus itself — text that looks like the corpus scores
    * high, rare garble scores low. The corpus stands in for CCNet's
    * external KenLM (no model artifact can ship in this sandbox); the
    * plumbing is identical.
    *
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V);  score(d) = avg over the
    * doc's bigrams of ln P;  ppl(d) = exp(-score). Every count is an
    * exact integer, each ln term is a double over identical rationals
    * in any engine, and the per-doc sum runs in DECIMAL(27,10)
    * (exact, order-independent) — so scores hash-match an SQL replay.
    *
    * Model space (round 8): tokens and bigrams live as 8-byte md5-roll
    * hashes ([[NearDup.tokenHashesMd5]] tokens in [0, P); bigram key =
    * (h₁·K + h₂) mod P — the q130 shingle-hash contract applied to the
    * LM), so the per-doc scoring stream carries (doc_id, w1k, ngk)
    * longs, never text, and DuckDB still replays the exact keys. Two
    * distinct tokens/bigrams collide with probability ~n²/2³² — both
    * engines merge the SAME cells, so oracle comparison is unaffected;
    * the model itself blurs only at that rate.
    *
    * Scale shape: the model is vocabulary-bounded — c1 is |V| rows,
    * c12 is |distinct bigrams| (Zipf ⇒ ≪ the token stream) — and both
    * derive from one explode + hash agg with map-side combine; the c12
    * join is the one wide shuffle. Docs with < 2 tokens have no
    * bigrams and are absent from the output.
    *
    * Output: doc_id, n_bigrams, avg_ll, ppl.
    */
  /** (doc_id, th) — md5-roll hashed tokens, the ONE definition of the
    * LM model key space ([[lmScore]], the signal-state tables, and the
    * streaming scorer all hash through here, so builder and scorer can
    * never drift apart — the [[tokenBucket]] unification applied to
    * the LM).
    */
  private def hashedTokenBase(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), NearDup.tokenHashesMd5(text).as("th"))

  /** (doc_id, w1k, ngk) bigram-key instances over a hashed base.
    * Bigram key = (h₁·K + h₂) mod P, cross-engine, computed by the
    * codegen'd [[graft.plans.PairRollExpr]] fused loop (the zip_with
    * form it replaces ran its lambda INTERPRETED per element); w1k
    * reads back out of the retained hash array by position —
    * element_at stays inside whole-stage codegen.
    */
  private def lmBigrams(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val roll = GraftColumnBridge.column(graft.plans.PairRollExpr(
      GraftColumnBridge.expression(col("th")), NearDup.P, NearDup.K))
    base
      .select(col("doc_id"), col("th"), posexplode(roll))
      .select(col("doc_id"),
        element_at(col("th"), col("pos") + 1).as("w1k"),
        col("col").as("ngk"))
  }

  /** The two LM count tables (c1 token counts, c12 bigram counts) from
    * a hashed base and its bigram stream.
    */
  private def lmCountTables(base: DataFrame, bg: DataFrame): (DataFrame, DataFrame) = (
    base.select(explode(col("th")).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("c1")),
    bg.groupBy(col("ngk")).agg(count(lit(1)).as("c12")))

  /** (doc_id, pos, ngram) shingle-hash instances, pos 1-based BIGINT —
    * the shared candidate stream of the span-dup family.
    */
  private def shingleInstances(docs: DataFrame, id: Column, text: Column,
                               shingler: Column => Column): DataFrame =
    docs.select(id.as("doc_id"), posexplode(shingler(text)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("ngram"))

  /** [[shingleInstances]] staged for multi-consumer operators: every
    * dup-signal operator feeds the instance stream into BOTH its
    * ngram→doc-count aggregation and its per-position probe side, and
    * without staging each consumer re-tokenizes and re-hashes the full
    * corpus (the [[NearDup.ngramJaccardPairs]] staging discipline —
    * 8-byte keys, ~16 B/row; at production scale this is the parquet
    * stage between jobs). localCheckpoint so the operator owns the
    * blocks; lazy so plan construction stays computation-free.
    */
  private def shingleInstancesStaged(docs: DataFrame, id: Column,
                                     text: Column,
                                     shingler: Column => Column): DataFrame =
    shingleInstances(docs, id, text, shingler).staged

  /** ngram → number of distinct documents containing it. */
  private def ngramDocCounts(inst: DataFrame): DataFrame =
    inst.select(col("doc_id"), col("ngram")).distinct()
      .groupBy(col("ngram")).agg(count(lit(1)).as("nd"))

  def lmScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // staged like buildSignalState's base (r17): base feeds the bigram
    // stream AND the c1 table, and bg feeds the scoring probe AND the
    // c12 table — unstaged, the md5 token hashing ran 3× over the
    // corpus (bg twice + c1 once)
    val base = hashedTokenBase(docs, id, text).staged
    val bg = lmBigrams(base).staged
    val (c1, c12) = lmCountTables(base, bg)
    val v = c1.agg(count(lit(1)).as("v"))             // 1 row → broadcast
    val term = log((col("c12") + 1).cast("double") /
                   (col("c1") + col("v")).cast("double"))
    bg.join(c12, Seq("ngk"))
      .join(c1, col("w1k") === col("tk"))
      .crossJoin(v)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(term.cast("decimal(27,10)")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("s").cast("double") / col("n_bigrams")).as("avg_ll"),
        exp(-(col("s").cast("double") / col("n_bigrams"))).as("ppl"))
  }

  /** Cross-document duplicated-n-gram fraction — the corpus-wide
    * boilerplate signal from the MassiveText/RefinedWeb curation
    * recipes: for each document, the fraction of its 3-gram instances
    * whose 3-gram also occurs in at least one OTHER document. High
    * fractions flag templated/boilerplate text that exact and near-dup
    * passes miss (the duplication is span-level, not document-level).
    * Complements [[repetitionStats]], which is purely row-local: this
    * one compares every document against the rest of the corpus.
    *
    * Scale shape: instances collapse to (doc_id, ngram, cnt) in one
    * hash agg with map-side combine, the ngram→doc-count table derives
    * from that collapsed relation (Zipf ⇒ ≪ the instance stream), and
    * the one wide join carries (doc_id, ngram, cnt) where ngram is an
    * 8-byte shingle hash ([[NearDup.shingleHashes3Inst]] xxhash64
    * default; [[NearDup.shingleHashes3Md5Inst]] is the cross-engine
    * family a DuckDB oracle replays) — text never moves. The legacy
    * string key ([[NearDup.shingles3Inst]]) survives as a `shingler`
    * override for differential testing.
    *
    * Docs with < 3 tokens have no 3-grams and are absent. Output:
    * doc_id, n_ngrams, n_dup, dup_frac.
    */
  def dupNgramStats(docs: DataFrame, id: Column, text: Column,
                    shingler: Column => Column = NearDup.shingleHashes3Inst)
      : DataFrame = {
    // 3-gram INSTANCES (not distinct), one hashed key per token
    // position — <3-token docs produce an empty array and vanish at
    // the explode.
    // inst has ONE consumer here (perDoc — whose exchange both readers
    // below reuse), so no staging: a checkpoint would only add block I/O
    val inst = shingleInstances(docs, id, text, shingler)
    val perDoc = inst.groupBy(col("doc_id"), col("ngram"))
      .agg(count(lit(1)).as("cnt"))
    // docs-per-ngram off the collapsed relation: each (doc, ngram) row
    // counts once, so count(*) IS the distinct-doc count.
    val nd = perDoc.groupBy(col("ngram")).agg(count(lit(1)).as("nd"))
    perDoc.join(nd, Seq("ngram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_ngrams"),
           sum(when(col("nd") >= 2, col("cnt")).otherwise(lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_ngrams").cast("double")).as("dup_frac"))
  }

  /** Longest cross-document duplicated span — the position-aware form
    * of [[dupNgramStats]] and the per-doc signal behind exact-substring
    * dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", which removes ≥50-token spans shared
    * across documents): for each document, the token length of its
    * longest run of consecutive 3-grams that all occur in at least one
    * OTHER document. A run of r consecutive duplicated 3-grams covers
    * r + 2 tokens, so a doc sharing a 50-token passage reports ≥ 50
    * while scattered single-3-gram matches report 3.
    *
    * Scale shape: the candidate stream is (doc_id, pos, ngram-hash) —
    * 8-byte keys ([[NearDup.shingleHashes3Inst]] family, same contract
    * as [[dupNgramStats]]), text never moves; runs collapse with the
    * classic gaps-and-islands key (pos − row_number), both windows
    * partitioned by doc_id. Docs with no duplicated 3-gram are absent
    * (no span to report).
    *
    * Output: doc_id, n_runs, max_span_tokens.
    */
  def dupSpanStats(docs: DataFrame, id: Column, text: Column,
                   shingler: Column => Column = NearDup.shingleHashes3Inst)
      : DataFrame = {
    // Instance shinglers emit element i = the 3-gram starting at token
    // i (in order), so posexplode's 0-based pos + 1 IS the 1-based
    // token position the run algebra expects.
    val inst = shingleInstancesStaged(docs, id, text, shingler)
    val nd = ngramDocCounts(inst)
    // one ngram per (doc, pos) by construction and one nd row per
    // ngram, so the join preserves (doc_id, pos) uniqueness — no
    // distinct (and no extra exchange) needed.
    val dupPos = inst.join(nd.filter(col("nd") >= 2), Seq("ngram"))
      .select(col("doc_id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_runs"),
           (max(col("run_len")) + 2).as("max_span_tokens"))
  }

  /** Both span-dup signal families from ONE instance pass:
    * [[dupNgramStats]]'s fraction and [[dupSpanStats]]'s runs share
    * the (doc_id, pos, shingle-hash) stream and the ngram→doc-count
    * table, so a signal-sheet build pays one corpus tokenize + hash +
    * nd shuffle instead of two. The dup-marked instance stream is
    * staged (two consumers — at production scale this is the parquet
    * stage between jobs, the NearDup signature-table discipline).
    *
    * Output: doc_id, n_ngrams, n_dup, dup_frac, n_runs,
    * max_span_tokens (span columns NULL for docs with no cross-doc
    * duplicated 3-gram). Row set ≡ [[dupNgramStats]] (docs with ≥1
    * 3-gram); column semantics ≡ the standalone operators
    * (spec-asserted).
    */
  def dupSignals(docs: DataFrame, id: Column, text: Column,
                 shingler: Column => Column = NearDup.shingleHashes3Inst)
      : DataFrame = {
    val inst = shingleInstancesStaged(docs, id, text, shingler)
    val nd = ngramDocCounts(inst)
    val marked = inst.join(nd, Seq("ngram"))
      .select(col("doc_id"), col("pos"), (col("nd") >= 2).as("is_dup"))
      .staged
    val frac = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_ngrams").cast("double"))
          .as("dup_frac"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val span = marked.filter(col("is_dup"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_runs"),
        (max(col("run_len")) + 2).as("max_span_tokens"))
    frac.join(span, Seq("doc_id"), "left")
  }

  /** Exact-substring dedup, the REMOVE step (Lee et al. 2021 — their
    * pipeline deletes every ≥50-token span shared across documents,
    * not just flags it): drop the tokens covered by every
    * cross-document duplicated run of [[dupSpanStats]]'s algebra whose
    * span reaches `minSpanTokens`, and rebuild the text from the
    * surviving tokens in order. Docs untouched by any qualifying span
    * pass through verbatim (token-joined); a doc that is ONE big
    * duplicated span comes out empty — deletion, not dropping, is the
    * published semantics (the empties then fall to the length gate).
    *
    * Scale shape: the candidate stream carries (doc_id, pos, 8-byte
    * shingle hash); spans collapse per doc (gaps-and-islands, windows
    * partitioned by doc_id); the rebuild is a per-doc bounded
    * aggregation (a document's own tokens — KB, never corpus-wide).
    *
    * Output: doc_id, clean_text, n_removed — one row per input doc.
    */
  def stripDupSpans(docs: DataFrame, id: Column, text: Column,
                    minSpanTokens: Int = 50,
                    shingler: Column => Column = NearDup.shingleHashes3Inst)
      : DataFrame = {
    require(minSpanTokens >= 3, "a 3-gram already spans 3 tokens")
    val inst = shingleInstancesStaged(docs, id, text, shingler)
    val nd = ngramDocCounts(inst)
    val dupPos = inst.join(nd.filter(col("nd") >= 2), Seq("ngram"))
      .select(col("doc_id"), col("pos"))
    stripByDupPositions(docs, id, text, dupPos, minSpanTokens)
  }

  /** Incremental REMOVE step: strip a batch of NEW documents against
    * FROZEN [[buildSignalState]] shingle counts instead of rescanning
    * a corpus — the daily-cadence form of [[stripDupSpans]] (Lee et
    * al.'s deletion at ingestion time: text that duplicates the
    * accumulated corpus is cut before the batch ever lands).
    * Batch×state join only ([[signalSheetWith]]'s discipline,
    * including its `dupThreshold` member/external semantics and
    * version pinning). On a replayed corpus the output is
    * row-identical to the batch operator (spec-asserted).
    */
  def stripDupSpansWith(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, docs: DataFrame, id: Column, text: Column,
      minSpanTokens: Int = 50, asOf: Option[Long] = None,
      dupThreshold: Int = 2,
      shingler: Column => Column = NearDup.shingleHashes3Inst): DataFrame = {
    require(minSpanTokens >= 3, "a 3-gram already spans 3 tokens")
    val v = asOf.getOrElse(signalStateVersion(spark, stateDir))
    val nd = graft.sources.Versioned.read(spark, s"$stateDir/nd", Some(v))
    val dupPos = shingleInstances(docs, id, text, shingler)
      .join(nd, Seq("ngram"), "left")
      .filter(coalesce(col("nd"), lit(0L)) >= dupThreshold)
      .select(col("doc_id"), col("pos"))
    stripByDupPositions(docs, id, text, dupPos, minSpanTokens)
  }

  /** Shared tail of the two REMOVE forms: collapse duplicated
    * positions to qualifying spans, delete the covered tokens, rebuild
    * the text (per-doc bounded aggregation).
    */
  private def stripByDupPositions(docs: DataFrame, id: Column, text: Column,
      dupPos: DataFrame, minSpanTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // a run of r consecutive duplicated 3-grams starting at s covers
    // tokens [s, s + r + 1] — r + 2 tokens
    val spans = dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (count(lit(1)) + 2).as("span"))
      .filter(col("span") >= minSpanTokens)
      .select(col("doc_id"), col("s"), (col("s") + col("span") - 1).as("e"))
    // adjacent spans' token coverage can touch — distinct the positions
    val removed = spans
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("tpos"))
      .distinct()
    val tokpos = docs.select(id.as("doc_id"), posexplode(TextOps.tokens(text)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("tpos"),
        col("col").as("tok"))
    val rebuilt = tokpos.join(removed, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("tpos"), col("tok")))),
          x => x("tok")), " ").as("clean_text"))
    val removedCnt = removed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_removed"))
    docs.select(id.as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(removedCnt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Freeze the corpus-global halves of the doc-signals sheet as FOUR
    * Versioned tables committing in lockstep under `stateDir` — the
    * build-once / score-many cadence ([[buildNbModel]]'s discipline
    * applied to the signal families):
    *  - `nd`:  shingle-hash → number of documents containing it (the
    *    cross-doc dup family's lookup table);
    *  - `c1` / `c12` / `vsz`: the add-one bigram LM ([[lmScore]]'s
    *    model — token counts, bigram counts, the 1-row vocabulary
    *    size).
    * All four are vocabulary/shingle-bounded — orders of magnitude
    * smaller than the corpus. Returns the committed version.
    *
    * Commit protocol (shared with [[appendSignalState]]): the four
    * [[SignalState]] tables commit through the compare-and-swap
    * [[graft.sources.Versioned.overwriteAt]], nd first — of two
    * concurrent writers, the loser fails at its FIRST table before
    * committing anything, so a race is a clean error, never silently
    * dropped counts. A crash BETWEEN commits leaves the tables out of
    * lockstep; build REPAIRS such a dir by dropping it and starting
    * fresh at v0 (the state is a derived artifact — pinned readers of the
    * wiped history must rebuild, which the lockstep check tells them).
    */
  def buildSignalState(docs: DataFrame, id: Column, text: Column,
      stateDir: String,
      shingler: Column => Column = NearDup.shingleHashes3Inst): Long = {
    import graft.sources.Versioned
    val spark = docs.sparkSession
    if (Versioned.exists(spark, stateDir, SignalState) &&
        !Versioned.intact(spark, stateDir, SignalState))
      Versioned.drop(spark, stateDir)

    val nd = ngramDocCounts(shingleInstances(docs, id, text, shingler))
    // LM model in [[lmScore]]'s hashed key space. The base is STAGED:
    // each Versioned commit is its own action, so without staging c1,
    // c12, and vsz would each re-run the corpus tokenize+md5 pass.
    val base = hashedTokenBase(docs, id, text).staged
    val (c1raw, c12) = lmCountTables(base, lmBigrams(base))
    val c1 = c1raw.staged // feeds its commit AND vsz
    val vsz = c1.agg(count(lit(1)).as("v"))
    Versioned.rewrite(spark, stateDir, SignalState)(
      Versioned.overwriteAt(stateDir, SignalState, Seq(nd, c1, c12, vsz), _): Unit)
  }

  /** The frozen doc-signal lookup tables, in commit order. */
  val SignalState: graft.sources.Versioned.Artifact = graft.sources.Versioned
    .Artifact("signal state", Seq("nd", "c1", "c12", "vsz"),
      "rerun buildSignalState (it repairs the dir)")

  /** The latest LOCKSTEP version of a signal-state dir — the one
    * version pinning primitive every reader (batch scorer, stream
    * start) shares. Throws with a repair hint on a dir wedged by a
    * mid-commit crash.
    */
  def signalStateVersion(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Long =
    graft.sources.Versioned.lockstep(spark, stateDir, SignalState, None)

  /** Incremental maintenance for [[buildSignalState]] — the daily
    * cadence: merge a NEW batch of documents into the frozen lookup
    * tables without rescanning the corpus. All three count tables are
    * additive under the append-only invariant ([[graft.operators
    * .Curation]]'s contract — batch doc_ids never repeat state
    * doc_ids): nd adds per-ngram distinct-doc counts, c1/c12 add
    * token/bigram instance counts, and the vocabulary size recomputes
    * from the merged c1 key set (NOT additive — shared tokens must not
    * double-count). Cost is batch-sized: batch aggregation + a merge
    * join against the vocabulary/shingle-bounded tables. Commits all
    * four tables in lockstep; returns the new version. Streams pinned
    * to the previous version ([[graft.streaming.StreamJobs
    * .signalSheetStream]]) are untouched; a restart picks up the
    * merged state.
    */
  def appendSignalState(batch: DataFrame, id: Column, text: Column,
      stateDir: String,
      shingler: Column => Column = NearDup.shingleHashes3Inst): Long = {
    def merge(state: DataFrame, delta: DataFrame, key: String,
              cnt: String): DataFrame =
      state.withColumnRenamed(cnt, "_old")
        .join(delta.withColumnRenamed(cnt, "_new"), Seq(key), "full_outer")
        .select(col(key),
          (coalesce(col("_old"), lit(0L)) + coalesce(col("_new"), lit(0L)))
            .as(cnt))
    foldSignalState(batch, id, text, stateDir, shingler,
      signalStateVersion(batch.sparkSession, stateDir), merge)
  }

  /** Fold a batch's nd/c1/c12 counts into the signal state pinned at `v0`
    * with `combine` (state, delta, key, count column — add or subtract),
    * recount the vocabulary off the combined c1, and CAS-commit all four
    * at v0+1: a concurrent writer that read the same v0 fails cleanly at
    * the nd commit before touching anything — a lost update is
    * impossible, not just detectable (see [[buildSignalState]]).
    */
  private def foldSignalState(batch: DataFrame, id: Column, text: Column,
      stateDir: String, shingler: Column => Column, v0: Long,
      combine: (DataFrame, DataFrame, String, String) => DataFrame): Long = {
    def fold(t: String, delta: DataFrame, key: String): DataFrame = combine(
      graft.sources.Versioned.read(batch.sparkSession, s"$stateDir/$t",
        Some(v0)), delta, key, t)
    // batch-side aggregates through the shared LM helpers; the base is
    // staged so c1/c12 don't each re-tokenize the batch
    val base = hashedTokenBase(batch, id, text).staged
    val (c1B, c12B) = lmCountTables(base, lmBigrams(base))
    // the combined c1 feeds its own commit AND the vocab recount —
    // staged so the full_outer join runs once
    val c1 = fold("c1", c1B, "tk").staged
    graft.sources.Versioned.overwriteAt(stateDir, SignalState, Seq(
      fold("nd", ngramDocCounts(shingleInstances(batch, id, text, shingler)),
        "ngram"),
      c1, fold("c12", c12B, "ngk"), c1.agg(count(lit(1)).as("v"))), v0 + 1)
  }

  /** DELETE documents from the signal state — the takedown half of the
    * incremental cadence ([[graft.operators.Tombstones]]' counterpart
    * for the non-index state artifact): subtract the deleted documents'
    * nd/c1/c12 contributions, drop keys whose count reaches zero, and
    * recount the vocabulary — after which the state is row-identical to
    * one built without the documents (spec-proven). Exact under the
    * append-only doc-id invariant (each doc contributed exactly once)
    * PROVIDED the caller passes the same text the doc was appended
    * with; an underflow — a count going negative, or a key the state
    * never held — means exactly that contract broke (never-appended doc
    * or drifted text) and FAILS IN-PLAN before anything commits, since
    * committing it would silently corrupt every downstream ppl/dup
    * score. Cost is deletion-batch-sized against the
    * vocabulary-bounded tables; commits all four in lockstep CAS order.
    *
    * RETRY SAFETY (`batchId`): the underflow guard cannot catch a
    * DOUBLE-applied delete whose shared token/ngram totals stay
    * positive — a scheduler that re-runs a takedown stage after a
    * LATER sub-step failed would silently subtract the same counts
    * twice. A caller that names its deletion batch (any stable id —
    * the maintenance boundary) gets exactly-once application: the id
    * and its target version CLAIM into a tiny `dels/` table BEFORE the
    * subtraction commits, and a retry that finds the state already at
    * (or past) the claimed target SKIPS re-application. Crash shapes:
    * claim landed / subtraction didn't → the retry sees target = v0+1
    * and applies; subtraction landed / caller's later step failed →
    * the retry sees v0 ≥ target and skips (the ADVICE r15 window);
    * crash INSIDE the four-table commit → lockstep is broken and
    * [[signalStateVersion]] fails loudly, as for every state write.
    * Without `batchId` the legacy at-most-per-call semantics apply.
    */
  def deleteFromSignalState(deleted: DataFrame, id: Column, text: Column,
      stateDir: String,
      shingler: Column => Column = NearDup.shingleHashes3Inst,
      batchId: Option[String] = None): Long = {
    val spark = deleted.sparkSession
    val v0 = signalStateVersion(spark, stateDir)
    val delsT = s"$stateDir/dels"
    import spark.implicits._
    val alreadyApplied = batchId.exists { b =>
      val claimed: Option[Long] =
        if (!graft.sources.Versioned.exists(spark, delsT)) None
        else // 1-row control read (the bounded Scheduler-style exception)
          graft.sources.Versioned.read(spark, delsT)
            .filter(col("batch_id") === b)
            .agg(max(col("target_v"))).as[Option[Long]]
            .collect().headOption.flatten
      claimed match {
        case Some(t) if v0 >= t => true // prior attempt committed — skip
        case Some(t) =>
          require(t == v0 + 1, s"signal-state deletion claim for batch " +
            s"'$b' targets v$t but the state is at v$v0 — the claim was " +
            "written against a different state history; investigate " +
            "before re-applying")
          false
        case None =>
          graft.sources.Versioned.append(
            Seq((b, v0 + 1)).toDF("batch_id", "target_v"), delsT): Unit
          false
      }
    }
    if (alreadyApplied) return v0
    def unmerge(state: DataFrame, delta: DataFrame, key: String,
                cnt: String): DataFrame =
      state.withColumnRenamed(cnt, "_old")
        .join(delta.withColumnRenamed(cnt, "_new"), Seq(key), "full_outer")
        // the underflow guard lives INSIDE the projected count (not a
        // standalone filter): a violating row's count is null/negative,
        // so a filter-form guard would be reordered behind the `> 0`
        // cut and short-circuit away exactly on the rows it must catch
        .select(col(key),
          when(assert_true(
            col("_new").isNull ||
              (col("_old").isNotNull && col("_old") >= col("_new")),
            lit(s"signal-state delete underflow on $stateDir/$cnt: a " +
              "deleted document's counts exceed (or miss) the stored " +
              "totals — it was never appended to this state, or its text " +
              "drifted since the append; nothing was committed")).isNull,
            col("_old") - coalesce(col("_new"), lit(0L))).as(cnt))
        .filter(col(cnt) > 0)
    foldSignalState(deleted, id, text, stateDir, shingler, v0, unmerge)
  }

  /** The doc-signals sheet ([[graft.PipelineQueries.q136SignalSheet]]'s
    * columns) for a BATCH of documents scored against FROZEN
    * [[buildSignalState]] state — the streaming half of the sheet:
    * row-local families (lang, quality, repetition) compute on the
    * batch alone; the corpus-global families join the persisted lookup
    * tables (all broadcast-sized) instead of rescanning a corpus.
    *
    * Smoothing joins are LEFT + coalesce(0), so documents with tokens
    * or bigrams the frozen corpus never saw still score (add-one mass
    * only) — on a replayed corpus every key hits and the output is
    * row-identical to the batch sheet (StreamingSpec proves it).
    *
    * `dupThreshold`: a doc's n-gram counts as duplicated when the
    * frozen corpus shows ≥ this many documents containing it. The
    * default 2 assumes the scored docs ARE corpus members (replay /
    * re-attribution); pass 1 when scoring documents from OUTSIDE the
    * frozen corpus, where a single corpus occurrence is already
    * "someone else has this text".
    */
  def signalSheetWith(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, docs: DataFrame, id: Column, text: Column,
      nChars: Column, asOf: Option[Long] = None, dupThreshold: Int = 2,
      shingler: Column => Column = NearDup.shingleHashes3Inst): DataFrame = {
    val v = asOf.getOrElse(signalStateVersion(spark, stateDir))
    def tbl(t: String) = graft.sources.Versioned.read(spark, s"$stateDir/$t", Some(v))
    val nd = tbl("nd")

    val local = docs.select(id.as("doc_id"),
      TextOps.langId(text).as("predicted_lang"),
      TextOps.qualityScore(text, nChars).as("quality"))
    val rep = repetitionStats(docs, id, text)
      .select(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
        isRepetitive(col("distinct_ratio"), col("top_token_frac"),
          col("top_bigram_frac")).as("is_repetitive"))

    // dup families: batch instances × frozen nd — batch×state, never
    // corpus×corpus (the [[Curation.curateBatch]] join discipline);
    // staged for its two consumers (fraction + span)
    val inst = shingleInstances(docs, id, text, shingler)
    val dupped = inst.join(nd, Seq("ngram"), "left")
      .select(col("doc_id"), col("pos"),
        (coalesce(col("nd"), lit(0L)) >= dupThreshold).as("is_dup"))
      .staged
    val dup = dupped.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"),
        (col("n_dup").cast("double") / col("n_ngrams").cast("double"))
          .as("dup_frac"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val span = dupped.filter(col("is_dup"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg((max(col("run_len")) + 2).as("dup_span"))

    // ppl: batch bigrams × frozen LM tables, [[lmScore]]'s arithmetic
    // in its hashed key space (same helpers — builder and scorer
    // cannot drift)
    val bg = lmBigrams(hashedTokenBase(docs, id, text))
    val term = log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
                   (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
    val ppl = bg.join(tbl("c12"), Seq("ngk"), "left")
      .join(tbl("c1"), col("w1k") === col("tk"), "left")
      .crossJoin(broadcast(tbl("vsz")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(term.cast("decimal(27,10)")).as("s"))
      .select(col("doc_id"),
        exp(-(col("s").cast("double") / col("n_bigrams"))).as("ppl"))

    local
      .join(rep, Seq("doc_id"))
      .join(dup, Seq("doc_id"), "left")
      .join(span, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): estimate per-doc
    * importance weights p_target/p_raw under bag-of-hashed-token
    * models, then draw a deterministic sample WITHOUT replacement
    * proportional to the weights via the Gumbel top-k trick — the
    * published recipe for tilting a 100 TB raw crawl toward a small
    * high-quality target domain without a trained classifier.
    *
    * Model: tokens hash (md5 — cross-engine, layout-stable) into
    * `buckets` feature buckets; p(b) = (c(b)+1)/(total+buckets),
    * estimated over the `isTarget` slice and the whole corpus.
    * log w(d) = Σ_tokens [ln p_t(b) − ln p_r(b)], summed in
    * DECIMAL(27,10). The Gumbel key is g = −ln(−ln(u)) with
    * u = (md5-basis-point(id)+0.5)/10⁴ — never rand(), never 0 or 1 —
    * so sel_key = log w + g is engine- and layout-reproducible, and
    * the top-k by sel_key IS the weighted sample.
    *
    * Scale shape: two corpus passes total. Pass 1 builds the model —
    * raw and target counts ride ONE grouped aggregate (≤`buckets`
    * groups, map-side combine), totals fold from the model table, not
    * a rescan. Pass 2 scores: map-side explode + broadcast model join,
    * one per-doc hash agg, then a global top-k (TakeOrderedAndProject)
    * — nothing wide moves but the per-doc partial aggregates.
    *
    * Output: the k selected (doc_id, n_tok, log_w, sel_key), ordered
    * by sel_key desc.
    */
  def dsirSelect(docs: DataFrame, id: Column, text: Column,
                 isTarget: Column, k: Int, buckets: Int = 512): DataFrame = {
    require(k > 0 && buckets > 0)
    val base = docs.select(id.as("doc_id"), TextOps.tokens(text).as("toks"),
      isTarget.as("is_target"))
    // staged (r17): the bucketed token stream feeds the model pass AND
    // the scoring pass — unstaged, the md5 feature hashing ran twice
    // over the corpus. ~17 B/row; the parquet stage between jobs at
    // production scale.
    val tb = base.select(col("doc_id"), col("is_target"),
        explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("is_target"),
        tokenBucket(col("tok"), buckets).as("b"))
      .staged
    // ONE model pass over the token stream: raw and target counts ride
    // the same grouped aggregate, and the totals fold from the model
    // table (≤`buckets` rows) instead of rescanning the corpus.
    val model = tb.groupBy(col("b")).agg(
      count(lit(1)).as("c_raw"),
      count(when(col("is_target"), 1)).as("c_tgt"))
    val tot = model.agg(sum(col("c_raw")).as("t_raw"),
      sum(col("c_tgt")).as("t_tgt"))
    // per-bucket log-likelihood ratio; every bucket a token maps to has
    // c_raw ≥ 1 by construction, so the model covers the domain.
    val delta = model.crossJoin(tot)
      .select(col("b"),
        (log((col("c_tgt") + 1).cast("double") /
             (col("t_tgt") + buckets).cast("double")) -
         log((col("c_raw") + 1).cast("double") /
             (col("t_raw") + buckets).cast("double"))).as("delta"))
    val scored = tb.join(broadcast(delta), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
           sum(col("delta").cast("decimal(27,10)")).as("s"))
      .select(col("doc_id"), col("n_tok"), col("s").cast("double").as("log_w"))
    val u = (fineBucket(col("doc_id")).cast("double") + 0.5) / 10000.0
    scored
      .withColumn("sel_key", col("log_w") + -log(-log(u)))
      .orderBy(col("sel_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** md5 feature bucket in [0, buckets) — the DSIR hashing-trick
    * feature map, shared by [[dsirSelect]] and [[nbModel]]. Cross-engine
    * (DuckDB replays the same md5 prefix) and layout-stable.
    */
  private def tokenBucket(tok: Column, buckets: Int): Column =
    tokenBucket(tok, lit(buckets))

  /** Column-width overload — the ONE definition of the feature map, so
    * a scoring job recovering its bucket count in-plan ([[nbScore]])
    * hashes into exactly the space the model was trained in.
    */
  private def tokenBucket(tok: Column, buckets: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % buckets

  /** Multinomial Naive Bayes over hashed bag-of-token features — the
    * deterministic stand-in for the fastText-style linear classifier
    * that production curation stacks (CCNet, RedPajama, Dolma) use for
    * language/quality gating. Trains counts, not weights: no SGD, no
    * rand(), so the model and every score replay exactly in SQL.
    *
    * Model tables (both tiny, broadcast by construction):
    *  - counts: the DENSE labels × buckets grid (missing (label, b)
    *    cells materialized at 0 — a sparse table would silently drop
    *    the +1 smoothing term for unseen cells at scoring time);
    *  - priors: docs per label + the corpus total folded from it.
    *
    * P(b|l) = (c(l,b)+1)/(tot_l+B);  score(d,l) = ln P(l) + Σ ln P(b|l).
    *
    * Scale shape: ONE pass over the train token stream (hash agg with
    * map-side combine, ≤ L·B groups) builds the grid; scoring is
    * map-side explode + broadcast grid join (fans each token row to L
    * label rows — L is the label count, single digits) + one per-(doc,
    * label) hash agg + a per-doc argmax window over L rows. Per-doc
    * sums ride DECIMAL(27,10) so label ties are exact, broken by label
    * asc.
    *
    * @return (doc_id, predicted, score, n_tok) — one row per test doc.
    */
  def nbClassify(train: DataFrame, test: DataFrame, id: Column, label: Column,
                 text: Column, buckets: Int = 512): DataFrame = {
    val (model, prior) = nbModelFrames(train, label, text, buckets)
    nbScore(test, id, text, model, prior)
  }

  /** The two NB model tables — both tiny, broadcast by construction:
    *  - model: the DENSE labels × buckets grid with per-cell smoothed
    *    log-likelihood ll = ln((c+1)/(tot_label+buckets));
    *  - prior: per-label ln P(label) over the training doc counts.
    */
  private[graft] def nbModelFrames(train: DataFrame, label: Column,
      text: Column, buckets: Int): (DataFrame, DataFrame) = {
    require(buckets > 0)
    val trainToks = train.select(label.as("label"), explode(TextOps.tokens(text)).as("tok"))
      .select(col("label"), tokenBucket(col("tok"), buckets).as("b"))
    val seen = trainToks.groupBy(col("label"), col("b")).agg(count(lit(1)).as("c"))
    val labels = train.select(label.as("label")).distinct()
    val spine = labels.sparkSession.range(1)
      .select(explode(sequence(lit(0L), lit(buckets - 1L))).as("b"))
    val grid = labels
      .crossJoin(spine)
      .join(seen, Seq("label", "b"), "left")
      .select(col("label"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val tot = grid.groupBy(col("label")).agg(sum(col("c")).as("tot"))
    val model = grid.join(tot, Seq("label"))
      .select(col("label"), col("b"),
        log((col("c") + 1).cast("double") /
            (col("tot") + buckets).cast("double")).as("ll"))
    val priors = train.groupBy(label.as("label")).agg(count(lit(1)).as("n_docs"))
    val nTotal = priors.agg(sum(col("n_docs")).as("n_total"))
    val prior = priors.crossJoin(nTotal)
      .select(col("label"),
        log(col("n_docs").cast("double") / col("n_total").cast("double")).as("lp"))
    (model, prior)
  }

  /** Score `test` docs against NB model tables. The bucket count is
    * recovered IN-PLAN from the dense grid (max b + 1, a 1-row
    * broadcast) — a persisted model carries its own feature-map width,
    * so a scoring job cannot silently hash into a different space than
    * the model was trained in.
    */
  private[graft] def nbScore(test: DataFrame, id: Column, text: Column,
      model: DataFrame, prior: DataFrame): DataFrame = {
    // ZERO-SHUFFLE scoring (r17, guide §2.4/§1.2): the model is a dense
    // L×B grid — KB-sized by construction — so the whole classifier
    // rides ONE broadcast row (per-label ll arrays indexed by bucket,
    // label-ascending), and each document scores entirely row-locally:
    // hash its tokens once, fold each label's log-likelihoods in exact
    // DECIMAL(27,10) (scale-10 adds are exact, so the fold equals the
    // old distributed Sum bit for bit), and take the argmax with a
    // strict-> fold over the label-ascending array (= the old window's
    // score desc, label asc). Replaces the tokens×L row fan-out, the
    // (doc,label) hash aggregation, its exchange, the prior join and
    // the per-doc ranking window with map-side codegen'd HOFs — nothing
    // shuffles but the caller's own downstream.
    val nbRow = broadcast(model.agg((max(col("b")) + 1).as("nb")))
    // Per-label ll arrays as UNSCALED DECIMAL(27,10) longs (ll·10¹⁰,
    // r18): scale-10 decimal addition IS unscaled-long addition, so the
    // per-token fold below runs in plain codegen'd long adds instead of
    // allocating a JVM Decimal per token×label (the r17 deferred item).
    // The double→decimal rounding (HALF_UP at scale 10 — exactly what
    // the old fold's per-token cast did) happens HERE, L×B times at
    // broadcast-build time, never per token.
    val unscaledLl = (c: Column) =>
      (c.cast("decimal(27,10)") * lit(10000000000L)).cast("long")
    val labsRow = broadcast(model.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("b"), col("ll")))).as("bl"))
      .join(prior, Seq("label"))
      .crossJoin(nbRow)
      // indexed lookup needs the DENSE grid nbModelFrames commits; a
      // sparse grid would silently mis-index — refuse in-plan (the
      // guard rides the projected array per the assert_true discipline)
      .select(col("label"), col("lp"),
        when(assert_true(size(col("bl")) === col("nb").cast("int"),
          lit("nbScore: model grid is not dense (cells != max(b)+1 for " +
            "some label) — this model was not written by buildNbModel/" +
            "nbModelFrames; rebuild it")).isNull,
          transform(col("bl"), x => unscaledLl(x("ll")))).as("arr"))
      .agg(array_sort(collect_list(
        struct(col("label"), col("lp"), col("arr")))).as("labs"),
        max(array_max(transform(col("arr"), v => abs(v)))).as("maxu")))
    // The long fold is exact while |Σ unscaled| stays below 10¹⁷ (17
    // integer digits — the decimal(27,10) reconstruction bound, itself
    // far below the 2⁶³ long wrap). |unscaled ll| ≤ ln(tot+B)·10¹⁰
    // (≈3.3·10¹¹ even at 10¹⁴ corpus tokens), so the bound allows
    // ~3·10⁵-token documents at 100 TB scale and the in-plan guard
    // refuses loudly beyond it instead of wrapping silently.
    val foldBound = 100000000000000000L // 1e17
    test.select(id.as("doc_id"), TextOps.tokens(text).as("toks"))
      // the old explode dropped token-less docs; mirror that row set
      .filter(col("toks").isNotNull && size(col("toks")) > 0)
      .crossJoin(nbRow)
      .crossJoin(labsRow)
      // bs is consumed once per label below — materialized here and
      // referenced AGAIN for n_tok so CollapseProject cannot inline the
      // md5 hashing into the per-label lambda (the HOF re-evaluation
      // trap: an inlined bs would re-hash every token L times)
      .withColumn("bs", transform(col("toks"), t =>
        (tokenBucket(t, col("nb")) + 1L).cast("int")))
      .withColumn("scored", transform(col("labs"), l => struct(
        (l.getField("lp") +
          // overflow guard rides the PROJECTED fold result (the house
          // assert_true discipline — a standalone filter would be
          // reordered/pruned); size() is O(1), so the per-label
          // re-evaluation inside this lambda is free. The product is
          // compared in DECIMAL so the guard itself cannot wrap
          // (n_tok·maxu can exceed a long exactly when the guard must
          // fire).
          when(assert_true(
            size(col("bs")).cast("decimal(19,0)") *
              col("maxu").cast("decimal(19,0)") <
              lit(foldBound).cast("decimal(19,0)"),
            lit("nbScore: document too long for the unscaled-long " +
              "fold (n_tok * max|ll*1e10| >= 1e17) — split the " +
              "document or widen the fold")).isNull,
            (aggregate(col("bs"), lit(0L), (acc, b) =>
              acc + element_at(l.getField("arr"), b))
              // reconstruct the exact scale-10 decimal from the
              // unscaled sum: decimal(27,10) × decimal(10,10) 1e-10 is
              // precision 38 / scale 20 — NO precision adjustment, so
              // the product is exact and its double cast is the same
              // correctly-rounded value the old decimal fold produced
              .cast("decimal(27,10)") *
              lit(java.math.BigDecimal.valueOf(1L, 10)))
              .cast("double"))).as("score"),
        l.getField("label").as("predicted"))))
      .withColumn("best", aggregate(col("scored"),
        struct(lit(Double.NegativeInfinity).as("score"),
          lit("").as("predicted")),
        (acc, x) => when(x.getField("score") > acc.getField("score"), x)
          .otherwise(acc)))
      .select(col("doc_id"),
        col("best").getField("predicted").as("predicted"),
        col("best").getField("score").as("score"),
        size(col("bs")).cast("long").as("n_tok"))
  }

  /** Persist an NB model as the two [[NbModel]] tables committing in
    * lockstep — train once, score many times, `asOf` time-travels to
    * any historical model version (the [[Similarity]] persisted-index
    * discipline applied to a classifier). A retrain over a dir a crashed
    * prior retrain left skewed heals in the commit rule
    * ([[graft.sources.Versioned.rewrite]]). Returns the committed
    * version.
    */
  def buildNbModel(train: DataFrame, label: Column, text: Column,
                   modelDir: String, buckets: Int = 512): Long = {
    val (model, prior) = nbModelFrames(train, label, text, buckets)
    graft.sources.Versioned.rewrite(train.sparkSession, modelDir, NbModel)(
      graft.sources.Versioned.overwriteAt(modelDir, NbModel,
        Seq(model, prior), _): Unit)
  }

  /** The persisted NB classifier: the model grid, then the priors. */
  val NbModel: graft.sources.Versioned.Artifact = graft.sources.Versioned
    .Artifact("NB model", Seq("model", "priors"), "rerun buildNbModel " +
      "(the daily job's next nb_retrain does) to re-align the tables")

  /** The version a read of the NB model at `modelDir` pins
    * ([[graft.sources.Versioned.lockstep]] over [[NbModel]]). */
  private[graft] def pinNbModel(spark: org.apache.spark.sql.SparkSession,
                                modelDir: String,
                                asOf: Option[Long]): Long =
    graft.sources.Versioned.lockstep(spark, modelDir, NbModel, asOf)

  /** Score against a persisted NB model (optionally a pinned historical
    * version). A scoring run pays the test-corpus pass only — no
    * training rescan; the model tables are KB-sized broadcasts.
    *
    * Latest-version reads REFUSE an out-of-lockstep pair (a build that
    * crashed between its two commits): scoring a new model grid with
    * stale priors would be silently wrong. The next [[buildNbModel]] over
    * the dir — the daily job's `nb_retrain` — re-aligns it (pinned
    * `asOf` reads of intact historical versions keep working).
    */
  def scoreWithNbModel(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, test: DataFrame, id: Column, text: Column,
      asOf: Option[Long] = None): DataFrame = {
    pinNbModel(spark, modelDir, asOf): Unit
    val model = graft.sources.Versioned.read(spark, s"$modelDir/model", asOf)
    val prior = graft.sources.Versioned.read(spark, s"$modelDir/priors", asOf)
    nbScore(test, id, text, model, prior)
  }

}
