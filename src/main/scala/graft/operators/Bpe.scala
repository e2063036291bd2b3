package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import Stage.StagedOps

/** BPE tokenizer training on the corpus — byte-pair-encoding merge
  * learning (Sennrich, Haddow & Birch 2016, "Neural Machine Translation
  * of Rare Words with Subword Units"), the tokenizer-fitting step a
  * training-data pipeline runs before it can count a corpus in model
  * tokens instead of whitespace words. Iteratively: count all adjacent
  * symbol pairs (weighted by word frequency), merge the most frequent
  * pair everywhere, repeat k times; the learned merge list then encodes
  * any text.
  *
  * Scale shape (the part that matters at 100 TB): training touches the
  * corpus ONCE — the word-TYPE table (word, count) is the only thing
  * the merge loop ever sees, and it is vocabulary-sized (Zipf: ~10M
  * types for a web corpus, KB–GB not TB). Each of the k iterations is
  * one hash aggregation + one broadcast-applied rewrite over that
  * table; like [[Graph.connectedComponents]] every round is
  * `localCheckpoint`ed so the plan does not double per iteration.
  * Encoding reuses the same trick: word types encode once, documents
  * join their words against the encoded-type table.
  *
  * Everything is deterministic and cross-engine replayable: pair counts
  * are exact integers, the winning pair breaks ties (count desc, lhs
  * asc, rhs asc), and the merge application is one non-overlapping
  * left-to-right string replace — the same semantics in Spark's
  * `replace` and DuckDB's, character for character.
  *
  * Segmentation encoding (the part that makes plain `replace` CORRECT):
  * symbols are boundary-delimited — "␁sym1␁␁sym2␁␁…␁symN␁" ([[Sep]] =
  * U+0001, never in corpus text). A merge (l, r) rewrites "␁l␁␁r␁" →
  * "␁lr␁": the anchors force COMPLETE-symbol matches (the naive "l␁r"
  * form would also fire mid-symbol — "xab␁c" contains "ab␁c" — and
  * silently corrupt segmentations), and because a match consumes both
  * of its boundary anchors, consecutive occurrences chain exactly like
  * the reference implementation's left-to-right simultaneous merge:
  * a·a·a·a + (a,a) → aa·aa, a·a·a → aa·a.
  */
object Bpe {

  val Sep = "\u0001"
  private val Sep2 = Sep + Sep

  /** Word-type table (word, n) — the one corpus pass. Words containing
    * [[Sep]] itself (U+0001 — a control byte that does occur in scraped
    * web corpora) are dropped here: letting one through would corrupt
    * the boundary-delimited segmentation encoding, pair counts, and
    * every learned merge downstream.
    */
  def wordTypes(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextOps.tokens(text)).as("word"))
      .filter(length(col("word")) > 0 && !col("word").contains(Sep))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Initial segmentation: every character its own symbol, boundary-
    * delimited. */
  private def seg0(words: DataFrame): DataFrame =
    words.withColumn("seg",
      concat(lit(Sep), concat_ws(Sep2, split(col("word"), "")), lit(Sep)))

  /** The symbol array back out of a delimited segmentation. */
  private def symsOf(seg: Column): Column =
    split(trim(seg, Sep), java.util.regex.Pattern.quote(Sep2))

  /** Adjacent-pair counts over the current segmentation, weighted by
    * word frequency (overlapping occurrences all count, the reference
    * BPE semantics: 'aaa' contributes (a,a) twice).
    */
  private def pairCounts(segs: DataFrame): DataFrame = {
    val syms = symsOf(col("seg"))
    segs.select(col("n"),
        explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
      .groupBy(col("p")("lhs").as("lhs"), col("p")("rhs").as("rhs"))
      .agg(sum(col("n")).as("pair_n"))
  }

  /** One merge applied everywhere: "␁lhs␁␁rhs␁" → "␁lhsrhs␁" (non-
    * overlapping, left-to-right — both engines' `replace`).
    */
  private def applyMerge(segs: DataFrame, win: DataFrame): DataFrame =
    segs.crossJoin(broadcast(win.select(col("lhs"), col("rhs"))))
      .withColumn("seg", call_function("replace", col("seg"),
        concat(lit(Sep), col("lhs"), lit(Sep2), col("rhs"), lit(Sep)),
        concat(lit(Sep), col("lhs"), col("rhs"), lit(Sep))))
      .select(col("word"), col("n"), col("seg"))

  /** GPT-2's byte→unicode alphabet (Radford et al. 2019, the public
    * `bytes_to_unicode` table): printable latin-1 bytes map to
    * themselves, the rest to codepoints 256+, in byte order. Every
    * UTF-8 byte gets a PRINTABLE single-character symbol, so byte-level
    * word types are ordinary strings the whole merge machinery (and its
    * SQL replay) operates on unchanged — and none of the 256 symbols is
    * [[Sep]] (U+0001), so no corpus byte can collide with the
    * segmentation delimiter.
    */
  private[graft] val ByteToUnicode: Array[Int] = {
    val printable = (('!'.toInt to '~'.toInt) ++ (0xa1 to 0xac) ++
      (0xae to 0xff)).toSet
    val out = new Array[Int](256)
    var n = 0
    for (b <- 0 until 256) {
      if (printable(b)) out(b) = b
      else { out(b) = 256 + n; n += 1 }
    }
    out
  }

  /** hex-encoded UTF-8 bytes → byte-symbol string. `hexCol` MUST be a
    * bound column (never an inline expression): the per-byte lambda
    * dereferences it once per byte, and an unbound hex(encode(...))
    * would re-encode the word per element.
    */
  private def symbolsFromHex(hexCol: Column): Column = {
    // the table carries pre-rendered SYMBOL STRINGS, not codepoint ints:
    // Spark's char()/chr() is mod-256 ASCII (NOT a codepoint
    // constructor), so chr(257) would silently wrap — the ≥256 symbols
    // must be materialized on the driver
    val table = array(ByteToUnicode.map(cp =>
      lit(new String(Character.toChars(cp)))): _*)
    concat_ws("", transform(
      sequence(lit(1), (length(hexCol) / lit(2)).cast("int")), i =>
      element_at(table,
        conv(hexCol.substr(i * 2 - 1, lit(2)), 16, 10).cast("int") + 1)))
  }

  /** BYTE-LEVEL word-type table — the no-OOV guarantee: words re-express
    * as their UTF-8 bytes through [[ByteToUnicode]], so ANY input
    * (emoji, control bytes, broken encodings — scraped-web normality)
    * is representable over a 256-symbol base alphabet; nothing is
    * dropped, unlike [[wordTypes]]'s U+0001 guard. One corpus pass.
    */
  def wordTypesByteLevel(docs: DataFrame, text: Column): DataFrame =
    rawWordTypesByteLevel(docs, text).select(col("word"), col("n"))

  /** Byte-level word types keyed by BOTH alphabets: (raw, word, n).
    * Occurrences group on the RAW word first, so the per-byte
    * [[symbolsFromHex]] conversion runs once per word TYPE (Zipf: types
    * ≪ occurrences — the r17 deferred map-side cost cut), never per
    * occurrence. raw → word is INJECTIVE (each UTF-8 byte maps to a
    * distinct [[ByteToUnicode]] symbol, so distinct byte strings yield
    * distinct symbol strings): grouping by raw and converting the
    * group keys produces exactly the (word, n) rows the per-occurrence
    * conversion + regroup did, and the raw key joins an occurrence
    * stream without converting it at all ([[encodeIds]]/
    * [[tokenCounts]]).
    */
  private[graft] def rawWordTypesByteLevel(docs: DataFrame,
                                           text: Column): DataFrame =
    docs.select(explode(TextOps.tokens(text)).as("raw"))
      .filter(length(col("raw")) > 0)
      .groupBy(col("raw")).agg(count(lit(1)).as("n"))
      .withColumn("h", hex(encode(col("raw"), "UTF-8")))
      .select(col("raw"), symbolsFromHex(col("h")).as("word"), col("n"))

  /** Learn up to `k` merges from the corpus. Output: (step, lhs, rhs,
    * pair_n), one row per learned merge in training order — fewer than
    * k rows if the vocabulary exhausts (no adjacent pair left). Each
    * round's winner and segmentation are staged (`localCheckpoint`) so
    * the winner's two consumers share one computation and the plan
    * stays iteration-bounded.
    */
  def train(docs: DataFrame, text: Column, k: Int): DataFrame =
    trainFromWords(wordTypes(docs, text), k)

  /** [[train]] over the byte-level alphabet (GPT-2 pre-tokenization):
    * same merge loop, but the base symbols are bytes, so training never
    * hits an unrepresentable character.
    */
  def trainByteLevel(docs: DataFrame, text: Column, k: Int): DataFrame =
    trainFromWords(wordTypesByteLevel(docs, text), k)

  /** The merge loop over an explicit word-type table. */
  def trainFromWords(words: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    var segs = seg0(words).localCheckpoint(eager = false)
    val steps = (1 to k).map { i =>
      val win = pairCounts(segs)
        .orderBy(col("pair_n").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .localCheckpoint(eager = false)
      segs = applyMerge(segs, win).localCheckpoint(eager = false)
      win.select(lit(i).as("step"), col("lhs"), col("rhs"), col("pair_n"))
    }
    steps.reduce(_.unionByName(_))
  }

  /** Encode word types with a learned merge list: (word, n, n_sym).
    * The merges ride as ONE broadcast row (array sorted by step); the
    * fold applies them in training order per word — no joins, no
    * shuffles beyond the type table itself.
    */
  /** (word, n, seg): the final segmentation per word type under the
    * merge list — shared by [[encodeTypes]] and [[vocab]]. */
  private def encodeSegs(words: DataFrame, merges: DataFrame): DataFrame = {
    val marr = merges
      .agg(array_sort(collect_list(struct(col("step"), col("lhs"), col("rhs"))))
        .as("ms"))
    seg0(words).crossJoin(broadcast(marr))
      .withColumn("seg", aggregate(col("ms"), col("seg"), (acc, m) =>
        call_function("replace", acc,
          concat(lit(Sep), m("lhs"), lit(Sep2), m("rhs"), lit(Sep)),
          concat(lit(Sep), m("lhs"), m("rhs"), lit(Sep)))))
      .select(col("word"), col("n"), col("seg"))
  }

  /** Documents exploded to positioned RAW words — the occurrence
    * stream both alphabets join their type tables from. The byte-level
    * alphabet transform NEVER touches this stream (r18): the type
    * table carries the raw join key ([[typeSegsKeyedByRaw]]), so
    * [[symbolsFromHex]] stays at type grain.
    */
  private def docWordsPosRaw(docs: DataFrame, id: Column,
                             text: Column): DataFrame =
    docs.select(id.as("doc_id"), posexplode(TextOps.tokens(text)))
      .select(col("doc_id"), col("pos").as("word_pos"), col("col").as("raw"))
      .filter(length(col("raw")) > 0)

  private def typesOf(docs: DataFrame, text: Column,
                      byteLevel: Boolean): DataFrame =
    if (byteLevel) wordTypesByteLevel(docs, text) else wordTypes(docs, text)

  /** Segmented word types keyed by the RAW word: (raw, n, seg). For
    * char-level the raw word IS the type key; byte-level re-attaches
    * the raw key through the injective (raw, word) map — one
    * type-grain join — so the per-occurrence stream joins on raw and
    * the alphabet conversion cost stays O(types). The byte-level type
    * table is staged once (it feeds both the segmentation and the
    * key map).
    */
  private def typeSegsKeyedByRaw(docs: DataFrame, text: Column,
                                 merges: DataFrame,
                                 byteLevel: Boolean): DataFrame =
    if (!byteLevel)
      encodeSegs(wordTypes(docs, text), merges)
        .select(col("word").as("raw"), col("n"), col("seg"))
    else {
      val rawTypes = Stage.staged(rawWordTypesByteLevel(docs, text))
      encodeSegs(rawTypes.select(col("word"), col("n")), merges)
        .join(rawTypes.select(col("raw"), col("word")), Seq("word"))
        .select(col("raw"), col("n"), col("seg"))
    }

  def encodeTypes(words: DataFrame, merges: DataFrame): DataFrame =
    encodeSegs(words, merges)
      .select(col("word"), col("n"),
        size(symsOf(col("seg"))).cast("long").as("n_sym"))

  /** The vocabulary artifact a trainer consumes: every subword symbol
    * the encoded corpus contains, its total occurrence count, and its
    * deterministic id (frequency rank: count desc, symbol asc — the
    * usual vocab-file ordering). The ranking window runs over the
    * vocabulary-sized symbol table (a collapsed dimension, like the
    * packing offset table — never the corpus). Output: (tok, n_occ,
    * tok_id with ids from 0).
    */
  def vocab(docs: DataFrame, text: Column, merges: DataFrame,
            byteLevel: Boolean = false): DataFrame = {
    val enc = encodeSegs(typesOf(docs, text, byteLevel), merges)
    val counts = enc
      .select(col("n"), explode(symsOf(col("seg"))).as("tok"))
      .groupBy(col("tok")).agg(sum(col("n")).as("n_occ"))
    // BOUNDED single-partition window: `counts` has one row per vocab
    // SYMBOL (base alphabet + ≤k merge products — KB-sized by
    // construction, never corpus-scale). The [[BoundedWindow]] key
    // keeps the identical global rank while stating the bound (and
    // keeping WindowExec's corpus-scale warning meaningful elsewhere).
    counts.withColumn("tok_id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(BoundedWindow.key(col("tok")))
        .orderBy(col("n_occ").desc, col("tok").asc)) - 1)
      .select(col("tok"), col("n_occ"), col("tok_id"))
  }

  /** The trainer INPUT: documents as ordered subword-id streams. One
    * row per (doc, word position, subword position) with the subword
    * and its [[vocab]] id — the flattened form of the id arrays a
    * training run consumes (q122's text sequences, in model-token
    * space). Word types segment once ([[encodeSegs]]); documents
    * explode to positioned words, join the type table, explode each
    * word's subwords, and join the vocabulary — all equality joins
    * against vocabulary-sized build sides.
    */
  def encodeIds(docs: DataFrame, id: Column, text: Column,
                merges: DataFrame, vocabDf: DataFrame,
                byteLevel: Boolean = false): DataFrame = {
    val types = typeSegsKeyedByRaw(docs, text, merges, byteLevel)
      .select(col("raw"), symsOf(col("seg")).as("syms"))
    docWordsPosRaw(docs, id, text)
      .join(types, Seq("raw"))
      .select(col("doc_id"), col("word_pos"), posexplode(col("syms")))
      .select(col("doc_id"), col("word_pos"),
        col("pos").as("sym_pos"), col("col").as("tok"))
      .join(vocabDf.select(col("tok"), col("tok_id")), Seq("tok"))
      .select(col("doc_id"), col("word_pos"), col("sym_pos"),
        col("tok"), col("tok_id"))
  }

  /** Per-document BPE token counts under a learned merge list — the
    * "how many model tokens is this corpus" number a training run is
    * provisioned by, exact instead of the whitespace/regex proxies
    * ([[graft.functions.TextOps.bpeishTokenCount]]). Word types encode
    * once; documents join their words against the encoded types
    * (vocabulary-sized build side). Output: (doc_id, n_words, n_tok).
    */
  def tokenCounts(docs: DataFrame, id: Column, text: Column,
                  merges: DataFrame, byteLevel: Boolean = false): DataFrame = {
    val types = typeSegsKeyedByRaw(docs, text, merges, byteLevel)
      .select(col("raw"), size(symsOf(col("seg"))).cast("long").as("n_sym"))
    docWordsPosRaw(docs, id, text)
      .drop("word_pos")
      .join(types, Seq("raw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tok"))
  }

  // ------------------------------------------------------------- model

  /** PERSIST the tokenizer as a versioned artifact — the train-once /
    * encode-many shape every production tokenizer has (a merges.txt +
    * vocab.json pair, here as two lockstep [[graft.sources.Versioned]]
    * tables under `modelDir`): corpus-wide training runs once; every
    * downstream encode/count job reads the KB-sized broadcast tables;
    * `asOf` reproduces any historical tokenizer exactly (retraining on
    * a grown corpus bumps the version — old id streams stay
    * reproducible, the [[graft.operators.Corpus.buildNbModel]]
    * discipline). Returns the committed version.
    */
  def buildBpeModel(docs: DataFrame, text: Column, k: Int,
                    modelDir: String, byteLevel: Boolean = false): Long = {
    val merges =
      if (byteLevel) trainByteLevel(docs, text, k) else train(docs, text, k)
    // staged once: the vocab derives from the merges, and committing
    // both from one computed list keeps them consistent by construction
    val staged = merges.localCheckpoint()
    // the alphabet flag is PERSISTED on the merges rows and guarded at
    // read (the pqResGuard discipline): encoding byte-level merges over
    // char-level segmentations (or vice versa) produces plausible-but-
    // wrong output silently — ASCII merges still fire, unknown toks
    // vanish in the vocab join — so a flag mismatch must fail loudly.
    // A retrain over a dir a crashed prior retrain left skewed heals in
    // the commit rule ([[graft.sources.Versioned.rewrite]]).
    val frames = Seq(staged.withColumn("byte_level", lit(byteLevel)),
      vocab(docs, text, staged, byteLevel))
    graft.sources.Versioned.rewrite(docs.sparkSession, modelDir, Model)(
      graft.sources.Versioned.overwriteAt(modelDir, Model, frames, _): Unit)
  }

  /** The persisted tokenizer: merges, then vocab, in lockstep. */
  val Model: graft.sources.Versioned.Artifact = graft.sources.Versioned
    .Artifact("BPE model", Seq("merges", "vocab"), "rerun buildBpeModel " +
      "(the daily job's next bpe_retrain does) to re-align the tables")

  /** In-plan alphabet guard: reading a model whose persisted
    * `byte_level` differs from the caller's flag fails loudly instead
    * of mis-encoding. Models persisted before the flag existed read
    * only as char-level (the then-default); byte-level callers get a
    * rebuild message instead of unverifiable output.
    */
  private def byteLevelGuard(merges: DataFrame, byteLevel: Boolean): DataFrame =
    if (!merges.columns.contains("byte_level")) {
      require(!byteLevel, "this BPE model predates the persisted " +
        "byte_level flag: it cannot be verified as byte-level — encode " +
        "with byteLevel=false, or rebuild the model with buildBpeModel")
      merges
    } else merges
      .filter(assert_true(col("byte_level") === lit(byteLevel),
        lit(s"BPE model byte_level flag != caller's byteLevel = $byteLevel" +
          " — re-read the model with the alphabet it was trained on")).isNull)
      .drop("byte_level")

  /** The version a read of the tokenizer at `modelDir` pins
    * ([[graft.sources.Versioned.lockstep]] over [[Model]]). */
  private[graft] def pinModel(spark: org.apache.spark.sql.SparkSession,
                              modelDir: String, asOf: Option[Long]): Long =
    graft.sources.Versioned.lockstep(spark, modelDir, Model, asOf)

  private def readModel(spark: org.apache.spark.sql.SparkSession,
                        modelDir: String, asOf: Option[Long],
                        byteLevel: Boolean): (DataFrame, DataFrame) = {
    pinModel(spark, modelDir, asOf): Unit
    (byteLevelGuard(
        graft.sources.Versioned.read(spark, s"$modelDir/merges", asOf),
        byteLevel),
      graft.sources.Versioned.read(spark, s"$modelDir/vocab", asOf))
  }

  /** [[encodeIds]] against a persisted model (optionally a pinned
    * historical version): the encode job pays only its own corpus pass
    * — no training rescan.
    */
  def encodeIdsWithModel(spark: org.apache.spark.sql.SparkSession,
                         modelDir: String, docs: DataFrame, id: Column,
                         text: Column, byteLevel: Boolean = false,
                         asOf: Option[Long] = None): DataFrame = {
    val (merges, vocabDf) = readModel(spark, modelDir, asOf, byteLevel)
    encodeIds(docs, id, text, merges, vocabDf, byteLevel)
  }

  /** byte-symbol string → original text — the [[ByteToUnicode]]
    * INVERSE (GPT-2 `bytes_to_unicode` reversed): every symbol
    * character maps back to the byte it stands for (the 256-entry map
    * literal is the same driver-materialized table the encode side
    * uses, read the other way — one source of truth), the byte string
    * re-assembles via hex → unhex, and the binary decodes as UTF-8.
    * Exact inverse by construction: encode mapped each UTF-8 byte to a
    * distinct printable symbol, so the round trip is byte-identical —
    * emoji, multi-byte codepoints, and control bytes included.
    * `symCol` MUST be a bound column (the [[symbolsFromHex]] rule: the
    * per-character lambda dereferences it once per element).
    */
  private def textFromSymbols(symCol: Column): Column = {
    val inv = map_from_arrays(
      array(ByteToUnicode.map(cp =>
        lit(new String(Character.toChars(cp)))): _*),
      array((0 until 256).map(b => lit(f"$b%02X")): _*))
    decode(unhex(concat_ws("", transform(
      sequence(lit(1), length(symCol)), i =>
        element_at(inv, symCol.substr(i, lit(1)))))), "UTF-8")
  }

  /** Inverse of [[encodeIds]] — DETOKENIZATION, the decode a trainer
    * uses to inspect samples or export text from an id stream: ids join
    * the vocabulary back to symbols (an equality join against the
    * vocabulary-sized table), symbols concatenate per word in sym_pos
    * order (BPE segmentation PARTITIONS the word's characters, so the
    * concat reconstructs the word exactly), words join with single
    * spaces in word_pos order. For a BYTE-LEVEL model the reconstructed
    * word is a byte-symbol string, so it additionally runs through the
    * [[textFromSymbols]] inverse before the doc-level join.
    * decode(encode(x)) ≡ x for both alphabets (q176/q178 prove it
    * corpus-wide against the raw documents table — the oracle is
    * `SELECT doc_id, text FROM documents`).
    *
    * Input: the [[encodeIds]] stream (doc_id, word_pos, sym_pos,
    * tok_id). Output: (doc_id, text).
    */
  def decodeIds(ids: DataFrame, vocabDf: DataFrame,
                byteLevel: Boolean = false): DataFrame = {
    // ONE exchange for the whole decode: hash-partitioning on doc_id
    // satisfies BOTH the (doc_id, word_pos) word assembly and the
    // doc_id text assembly (HashPartitioning on a subset of the group
    // keys clusters every group), so the explicit repartition replaces
    // two token-/word-level shuffles with one (guide §2.4 — two
    // operations keyed the same way share one exchange). collect_list
    // has no map-side reduction, so skipping partial aggregation costs
    // nothing.
    val words = ids
      .select(col("doc_id"), col("word_pos"), col("sym_pos"), col("tok_id"))
      .join(vocabDf.select(col("tok_id"), col("tok")), Seq("tok_id"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("word_pos"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("sym_pos"), col("tok")))),
        x => x("tok")), "").as("__sym"))
    val decoded =
      if (!byteLevel) words.withColumnRenamed("__sym", "__word")
      else words.select(col("doc_id"), col("word_pos"),
        textFromSymbols(col("__sym")).as("__word"))
    decoded
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("word_pos"), col("__word")))),
        x => x("__word")), " ").as("text"))
  }

  /** [[decodeIds]] against a persisted model's vocabulary; `byteLevel`
    * is validated against the model's persisted flag (the
    * [[byteLevelGuard]] discipline — decoding a byte-level model
    * char-level would emit the symbol alphabet as if it were text).
    */
  def decodeIdsWithModel(spark: org.apache.spark.sql.SparkSession,
                         modelDir: String, ids: DataFrame,
                         byteLevel: Boolean = false,
                         asOf: Option[Long] = None): DataFrame = {
    val (merges, vocabDf) = readModel(spark, modelDir, asOf, byteLevel)
    // the flag guard rides the MERGES plan, which decode never
    // evaluates — re-attach it to the vocabulary via a 1-row broadcast
    // so a byteLevel/model mismatch still fails loudly instead of
    // emitting the symbol alphabet as if it were text
    val guard = merges.agg(count(lit(1)).as("__g"))
    decodeIds(ids, vocabDf.crossJoin(broadcast(guard)).drop("__g"),
      byteLevel)
  }

  /** [[tokenCounts]] against a persisted model — the provisioning
    * count a trainer reads without retraining the tokenizer.
    */
  def tokenCountsWithModel(spark: org.apache.spark.sql.SparkSession,
                           modelDir: String, docs: DataFrame, id: Column,
                           text: Column, byteLevel: Boolean = false,
                           asOf: Option[Long] = None): DataFrame = {
    val (merges, _) = readModel(spark, modelDir, asOf, byteLevel)
    tokenCounts(docs, id, text, merges, byteLevel)
  }

  // --------------------------------------------------- trainer artifact

  /** Fixed-budget trainer sequences of MODEL-token ids — the artifact a
    * fixed-context data loader actually mounts. Takes [[encodeIds]]'
    * flattened stream and replays the GPT-style concat-and-chunk cut
    * ([[graft.operators.Corpus.packSequencesCounted]]) in BPE-id space:
    * every document's ids are laid end to end in doc-id order and the
    * stream is cut every `budget` ids, so every sequence except the
    * final one holds EXACTLY `budget` model tokens.
    *
    * Scale shape: per-doc id arrays come from one hash aggregation
    * (bounded by the doc's own token count — the [[Corpus
    * .packedSequenceTexts]] slice discipline, never a corpus window);
    * the array table is staged once (`localCheckpoint`) because the
    * packing counts and the slice join both read it; cut placement is
    * the slice-machinery global prefix sum; per-sequence assembly is
    * one aggregation bounded by `budget` ids.
    *
    * Output: (seq_id 0-based, n_tok, n_docs, ids array<int>).
    */
  def packedIdSequences(ids: DataFrame, budget: Int): DataFrame = {
    val (arr, spans) = packedIdSpans(ids, budget)
    assembleIdSequences(arr, spans)
  }

  /** The two staged halves of [[packedIdSequences]] — (per-doc id
    * arrays, cut spans) — exposed so a consumer that ALSO needs the
    * span table (e.g. a per-source export manifest) shares one encode
    * and one prefix sum instead of re-running the pipeline. Both are
    * `localCheckpoint`ed: each feeds two downstream reads.
    */
  def packedIdSpans(ids: DataFrame, budget: Int): (DataFrame, DataFrame) = {
    val arr = ids
      .groupBy(col("doc_id"))
      .agg(transform(
          sort_array(collect_list(struct(
            col("word_pos"), col("sym_pos"), col("tok_id")))),
          c => c("tok_id")).as("ids"))
      .withColumn("n_tok", size(col("ids")).cast("long"))
      .staged
    val spans = Corpus.packSequencesCounted(
      arr.select(col("doc_id"), col("n_tok")), budget)
      .staged
    (arr, spans)
  }

  /** Assemble (seq_id, n_tok, n_docs, ids) from [[packedIdSpans]]'
    * halves. */
  def assembleIdSequences(arr: DataFrame, spans: DataFrame): DataFrame =
    spans.join(arr.select(col("doc_id"), col("ids")), Seq("doc_id"))
      .select(col("seq_id"), col("doc_id"), col("n_tok_in_seq"),
        slice(col("ids"), col("doc_tok_start").cast("int"),
          col("n_tok_in_seq").cast("int")).as("piece"))
      .groupBy(col("seq_id"))
      .agg(sum(col("n_tok_in_seq")).as("n_tok"),
        count(lit(1)).as("n_docs"),
        flatten(transform(
          sort_array(collect_list(struct(col("doc_id"), col("piece")))),
          c => c("piece"))).as("ids"))

  /** [[packedIdSequences]] against a persisted model — encode with the
    * version-pinned tokenizer, then pack: the one artifact a training
    * run mounts, reproducible for any historical tokenizer via `asOf`.
    */
  def packedIdSequencesWithModel(spark: org.apache.spark.sql.SparkSession,
                                 modelDir: String, docs: DataFrame,
                                 id: Column, text: Column, budget: Int,
                                 byteLevel: Boolean = false,
                                 asOf: Option[Long] = None): DataFrame =
    packedIdSequences(
      encodeIdsWithModel(spark, modelDir, docs, id, text, byteLevel, asOf),
      budget)
}
