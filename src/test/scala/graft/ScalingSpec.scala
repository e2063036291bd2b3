package graft

import java.nio.file.Files
import org.apache.spark.graft.EngineListener
import org.apache.spark.graft.EngineListener.Counts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Corpus, Curation, Dedup, Graph, Index, NearDup,
  Retrieval, Similarity, Stamp, Stats}
import graft.operators.Retrieval.{Ivf, Pq}
import graft.sources.Versioned

/** The engine's scaling claims as counter gates. Every row runs an
  * operator or a fixed probe on sf0.001's documents (500 rows) grown 1×
  * and 4× by [[ScaleData.replicate]] (replicas share no token, so the
  * duplicate structure grows linearly), reads host-independent counters
  * off [[EngineListener]], and holds the 4×/1× ratio to the bound its
  * claim states:
  *
  *  - a corpus operator's candidate generation is equality-join-shaped:
  *    its shuffle and input records grow at most linearly (≤ 4 × 1.25) —
  *    a quadratic term reads ~16×;
  *  - a fixed query against a growing index or state reads only its own
  *    bytes: its input bytes grow sub-linearly (< 4×), and where a
  *    pruned layout has a plain twin, slower than the twin's.
  *
  * The two scales run side by side, each under its own job group. Byte
  * rows read with parquet vectored IO off for the row's duration only:
  * parquet-mr's readVectored path bypasses the Hadoop FS statistics that
  * feed `inputMetrics.bytesRead`, so data-page bytes would go uncounted.
  */
class ScalingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val scale = 4
  private val linear = scale * 1.25

  private lazy val docs = Tables.documents(spark, sf)
  private def corpus(s: Int): DataFrame = ScaleData.replicate(docs, s)
  private def tmp(name: String) = Files.createTempDirectory(s"scaling_$name").toString

  /** `at(1)` and `at(4)`, run side by side: each measurement is scoped
    * by its own job group, so neither sees the other's jobs. */
  private def atBothScales[T](at: Int => T): (T, T) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val four = Future(at(scale))
    val one = at(1)
    try (one, Await.result(four, Duration.Inf))
    finally spark.catalog.clearCache()
  }

  /** Counters of one plan call and its forced run: operators that stage
    * their intermediates run jobs while the plan is built. */
  private def counted(plan: () => DataFrame): Counts =
    EngineListener.measure(spark)(Bench.force(plan()))._2

  private def withoutVectoredIo[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "parquet.hadoop.vectored.io.enabled"
    val prev = Option(conf.get(key))
    conf.set(key, "false")
    try body finally prev.fold(conf.unset(key))(conf.set(key, _))
  }

  /** Input bytes of one warm request (plan call + run): a first plan call
    * reads the per-version constants the request memoizes. */
  private def bytesOf(request: => DataFrame): Long = {
    request: Unit
    EngineListener.measure(spark)(Bench.force(request))._2.inputBytes
  }

  /** 4×/1× growth; nothing at 1× and something at 4× is unbounded. */
  private def ratio(one: Long, four: Long): Double =
    if (one == 0) { if (four == 0) 1.0 else Double.PositiveInfinity }
    else four.toDouble / one

  /** Adversarial skew: every third doc's text becomes one shared
    * boilerplate template, a duplicate cluster that GROWS WITH THE
    * CORPUS (n/3 docs). Uncapped banding pairs it quadratically —
    * (n/3)²/2 candidates at any band key — the input shape the
    * frequency caps exist for.
    */
  private def injectSkew(d: DataFrame): DataFrame =
    d.withColumn("text", when(pmod(col("doc_id"), lit(3)) === 0,
      lit("all work and no play makes jack a dull boy every single day"))
      .otherwise(col("text")))

  // ---------------------------------------------------- corpus operators

  /** A row's input is built outside the measurement (replicating runs a
    * job); the returned plan call is measured. */
  private def onDocs(op: DataFrame => DataFrame): Int => () => DataFrame =
    s => { val d = corpus(s); () => op(d) }

  private lazy val bpeModel: String = {
    val dir = tmp("bpe_model")
    Bpe.buildBpeModel(docs, col("text"), k = 6, dir): Unit
    dir
  }

  /** A planted hub receives HALF of all edges, the web-graph shape where
    * a per-round groupBy(dst) concentrates on a few destinations. */
  private def hubGraph(s: Int): (DataFrame, DataFrame) = {
    val nNodes = 2000L * s
    val edges = spark.range(20000L * s).select(
      (col("id") % nNodes).as("src"),
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(nNodes))).as("dst"))
    (spark.range(nNodes).select(col("id")), edges)
  }

  private def hubContrib(s: Int): DataFrame = hubGraph(s)._2
    .select(col("dst").as("id"),
      (lit(1.0) / (pmod(col("src"), lit(7)) + lit(1))).as("c"))

  private val corpusOps: Seq[(String, Int => () => DataFrame)] = Seq(
    "dedup_normalized" -> onDocs(d => Dedup.normalizedText(d, col("text"), col("doc_id"))),
    "ngram_jaccard"    -> onDocs(d => NearDup.ngramJaccardPairs(d, col("doc_id"), col("text"))),
    "minhash_lsh"      -> onDocs(d => NearDup.minhashNearDup(d, col("doc_id"), col("text"))),
    "simhash_pairs"    -> onDocs(d => NearDup.simhashNearDup(d, col("doc_id"), col("text"))),
    "tfidf_top_term"   -> onDocs(d => Corpus.topTermPerDoc(d, col("doc_id"), col("text"))),
    "chunk_20_15"      -> onDocs(d => Corpus.chunk(d, col("doc_id"), col("text"), 20, 15)),
    "repetition_stats" -> onDocs(d => Corpus.repetitionStats(d, col("doc_id"), col("text"))),
    // iterative: edges = exact normalized-dup pairs, then min-label
    // propagation to a fixpoint
    "components"       -> onDocs { d =>
      val groups = Dedup.normalizedText(d, col("text"), col("doc_id"))
      val edges = d
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("norm_fp"))
        .join(groups.filter(col("n_dups") > 1), Seq("norm_fp"))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("keep_id").as("src"), col("doc_id").as("dst"))
      Graph.connectedComponents(d.select(col("doc_id")), edges)
    },
    // the skewed corpus with the frequency cap engaged: the cap drops
    // the cluster's heavy keys instead of pairing them
    "minhash_skew_cap" -> onDocs(d => NearDup.minhashNearDup(injectSkew(d),
      col("doc_id"), col("text"), maxBandFreq = Some(50))),
    "simhash_skew_cap" -> onDocs(d => NearDup.simhashNearDup(injectSkew(d),
      col("doc_id"), col("text"), maxBandFreq = Some(50))),
    "jaccard_skew_cap" -> onDocs(d => NearDup.ngramJaccardPairs(injectSkew(d),
      col("doc_id"), col("text"), maxShingleFreq = Some(50))),
    // 90/10 split of one corpus: the pair space is the shared-shingle
    // join, never train × test
    "decontamination"  -> onDocs { d =>
      val bucket = Corpus.hashBucket(col("doc_id"))
      NearDup.contaminationPairs(d.filter(bucket < 90),
        d.filter(bucket >= 90), col("doc_id"), col("text"), minShared = 2)
    },
    "pack_sequences"   -> onDocs(d => Corpus.packSequences(
      d, col("doc_id"), col("text"), budget = 512)),
    "chunk_dedup"      -> onDocs(d => Corpus.dedupChunks(
      d, col("doc_id"), col("text"), size = 16)),
    // the epoch expansion costs like the ~1.6× rows it adds
    "mixture_pack"     -> onDocs { d =>
      val mixed = Corpus.mixtureSample(
        d.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(8)))),
        col("source"), col("doc_id"),
        Map("src0" -> 2.5, "src1" -> 2.0, "src2" -> 1.5, "src3" -> 1.0,
            "src4" -> 1.0, "src5" -> 0.75, "src6" -> 0.5, "src7" -> 0.25))
        .withColumn("mid", col("doc_id") * 4 + col("epoch"))
      Corpus.packSequences(mixed, col("mid"), col("text"), budget = 512)
    },
    "dup_ngrams"       -> onDocs(d => Corpus.dupNgramStats(d, col("doc_id"), col("text"))),
    "dup_spans"        -> onDocs(d => Corpus.dupSpanStats(d, col("doc_id"), col("text"))),
    "strip_dup_spans"  -> onDocs(d => Corpus.stripDupSpans(d, col("doc_id"),
      col("text"), minSpanTokens = 12)),
    // replica-tagged tokens grow the vocabulary linearly: the worst
    // case for the model side
    "lm_score"         -> onDocs(d => Corpus.lmScore(d, col("doc_id"), col("text"))),
    "image_neardup"    -> onDocs(d => graft.operators.Multimodal.imageNearDupStub(
      d.select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload")),
    "image_neardup_cap" -> onDocs(d => graft.operators.Multimodal.imageNearDupStub(
      d.select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload", maxBandFreq = Some(50))),
    "bm25_topk"        -> onDocs(d => Retrieval.bm25TopK(
      d, col("doc_id"), col("text"), Seq("dup", "spark", "hash"), 20)),
    // one corpus pass builds the type table; the merge loop touches
    // vocabulary-sized data only
    "bpe_train_6"      -> onDocs(d => Bpe.train(d, col("text"), 6)),
    // the exact-percentile machinery over 4× lineitem
    "percentile_scale" -> { s =>
      val li = Tables.lineitem(spark, sf)
      val big = (0 until s).map(i => li.select(col("l_returnflag"),
        (col("l_extendedprice") + lit(i)).as("l_extendedprice")))
        .reduce(_ unionByName _)
      () => Stats.exactPercentiles(big, col("l_returnflag"), col("l_extendedprice"),
        Seq(0.25, 0.5, 0.75, 0.99))
    },
    // a FIXED persisted model encodes and packs a growing corpus (ids
    // offset, text duplicated: the same subword space)
    "bpe_export"       -> { s =>
      val (model, big) = (bpeModel, (0 until s).map(i => docs.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
        .reduce(_ unionByName _))
      () => Bpe.packedIdSequences(Bpe.encodeIdsWithModel(
        spark, model, big, col("doc_id"), col("text")), 512)
    },
    "pagerank_hub"     -> { s =>
      val (nodes, edges) = hubGraph(s)
      () => Graph.pageRank(nodes, edges, iters = 3)
    },
    // the contribution sum with Spark's map-side partial aggregation,
    // and without it (raw contributions repartitioned by dst)
    "hub_agg_2phase"   -> (s => () => hubContrib(s).groupBy(col("id"))
      .agg(sum(col("c").cast("decimal(27,10)")).as("s"))),
    "hub_agg_nopartial" -> (s => () => hubContrib(s).repartition(col("id"))
      .groupBy(col("id")).agg(sum(col("c").cast("decimal(27,10)")).as("s"))))

  corpusOps.foreach { case (name, op) =>
    test(s"$name: shuffle and input records grow at most linearly with the corpus") {
      val (one, four) = atBothScales(s => counted(op(s)))
      val shuffle = ratio(one.shuffleWriteRecords, four.shuffleWriteRecords)
      val input = ratio(one.inputRecords, four.inputRecords)
      val report = f"shuffle records ${one.shuffleWriteRecords} -> " +
        f"${four.shuffleWriteRecords} ($shuffle%.2fx), input records " +
        f"${one.inputRecords} -> ${four.inputRecords} ($input%.2fx)"
      info(report)
      assert(shuffle <= linear && input <= linear, s"$report, bound $linear")
    }
  }

  test("candidate audit: the capped band join stays linear on a quadratic " +
      "input, and the uncapped count shows the gate fails on it") {
    def audit(s: Int, cap: Option[Int]) = NearDup.minhashCandidateAudit(
      injectSkew(corpus(s)), col("doc_id"), col("text"), maxBandFreq = cap)
      .collect()(0).getLong(1)
    val (capped, uncapped) = {
      val ((c1, u1), (c4, u4)) = atBothScales(s => (audit(s, Some(50)), audit(s, None)))
      (ratio(c1, c4), ratio(u1, u4))
    }
    info(f"candidates grew $capped%.2fx capped, $uncapped%.2fx uncapped")
    assert(capped <= linear, f"capped candidates grew $capped%.2fx")
    assert(uncapped > linear, f"uncapped candidates grew only $uncapped%.2fx")
  }

  // ------------------------------------- fixed probes vs growing indexes

  /** A fixed request's bytes against an index or state grown 1× and 4×:
    * each `pruned` measurement grows sub-linearly, and slower than its
    * plain `twin` where one exists. `measure(s)` builds the scale-s
    * fixture and returns its named byte measurements.
    */
  private case class ByteRow(name: String, claim: String,
      pairs: Seq[(String, Option[String])], measure: Int => Map[String, Long])

  private val memo = scala.collection.concurrent.TrieMap.empty[(String, Int), String]
  /** One index dir per (kind, scale), shared by the rows that probe it. */
  private def shared(kind: String, s: Int)(build: String => Unit): String =
    memo.getOrElseUpdate((kind, s), { val d = tmp(s"${kind}_$s"); build(d); d })

  private def bm25Bucketed(s: Int) = shared("bm25", s)(d =>
    Index.build(Index.Bm25Spec(), Index.Text(corpus(s), col("doc_id"), col("text")), d): Unit)

  private def bm25Partition(s: Int) = shared("bm25_part", s)(d =>
    Index.build(Index.Bm25Spec(layout = "partition"),
      Index.Text(corpus(s), col("doc_id"), col("text")), d): Unit)

  private lazy val embeddings = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def vectors(s: Int) = (0 until s).map(i => embeddings.select(
    (col("id") + lit(i * 1000000L)).as("id"), col("vec"))).reduce(_ unionByName _)
  /** 16 centroids in partition layout; `rare` gates ~1% of rows. */
  private def ivfPartition(s: Int) = shared("ivf_part", s)(d =>
    Index.build(Index.IvfSpec(nCentroids = 16, layout = "partition",
      metaCols = Seq("rare")), Index.Vectors(vectors(s)
        .withColumn("rare", pmod(col("id"), lit(97L)) < 1)), d): Unit)

  // 2 queries × 4 probes ≤ 8 of 16 centroids (a strict subset, or there
  // is nothing to prune); storage-backed and filtered, DPP's trigger shape
  private lazy val vecQueries = embeddings.filter(col("id") < 2)

  /** A storage-backed, filtered query batch (DPP's trigger shape). */
  private def termBatch(name: String, rows: Seq[(Long, Seq[String], String)]): DataFrame = {
    val dir = tmp(name)
    rows.toDF("query_id", "terms", "tag").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).filter(col("tag") === "keep").select("query_id", "terms")
  }

  private def copyTables(from: String, to: String, tables: String*): Unit =
    tables.foreach(t => Versioned.overwrite(Versioned.read(spark, s"$from/$t"), s"$to/$t"): Unit)

  /** A boilerplate-bearing corpus: `stops` on every doc plus a 997-type
    * rare-marker vocabulary, attached AFTER replication so the stop
    * tokens stay df = N at every scale. */
  private def zipf(d: DataFrame, stops: String) = d.withColumn("text",
    concat(col("text"), lit(s" $stops "), concat(lit("rare"), pmod(col("doc_id"), lit(997L)))))

  private lazy val packed = Seq(
    (1L, 3L, 1L, 8L, 0.9), (1L, 7L, 1L, 12L, 0.8),
    (2L, 11L, 1L, 10L, 0.7), (2L, 19L, 1L, 6L, 0.6))
    .toDF("query_id", "doc_id", "span_start", "span_end", "score")

  private val byteRows: Seq[ByteRow] = Seq(
    ByteRow("incremental_batch", "a fixed daily batch joins stored shingle " +
        "keys and never re-shingles the accumulated state",
      Seq("batch" -> None), { s =>
        val state = tmp(s"curation_$s")
        Curation.curateBatch(corpus(s).withColumn("n_chars", length(col("text"))), state): Unit
        val batch = docs.select((col("doc_id") + lit(900000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "), t => concat(lit("zz"), t)), " ")
            .as("text")).withColumn("n_chars", length(col("text")))
        Map("batch" -> EngineListener.measure(spark)(
          Curation.curateBatch(batch, state))._2.inputBytes)
      }),
    ByteRow("bm25_index_query", "the token pushdown prunes the postings scan",
      Seq("query" -> None), { s =>
        val idx = bm25Bucketed(s)
        Map("query" -> (bytesOf(Retrieval.queryBm25Index(spark, idx,
          Seq("dup", "spark", "hash"), 20)) +
          bytesOf(Retrieval.phraseSearch(spark, idx, Seq("hash", "join"), 20))))
      }),
    ByteRow("bm25_layout", "a bucketed postings probe reads only its buckets",
      Seq("bucket" -> Some("plain")), { s =>
        val bkt = bm25Bucketed(s)
        val plain = tmp(s"bm25_plain_$s")
        copyTables(bkt, plain, "postings", "stats")
        def probe(dir: String) = bytesOf(Retrieval.queryBm25Index(spark, dir,
          Seq("dup", "spark", "hash"), 20))
        Map("bucket" -> probe(bkt), "plain" -> probe(plain))
      }),
    ByteRow("ann_layout", "a partitioned IVF probe reads only its probed " +
        "centroids' directories",
      Seq("dpp" -> Some("plain")), { s =>
        val part = ivfPartition(s)
        val plain = tmp(s"ann_plain_$s")
        copyTables(part, plain, "centroids", "assignment")
        def probe(dir: String) = bytesOf(Similarity.queryIvfIndex(
          spark, dir, vecQueries, k = 5, nProbes = 4))
        Map("dpp" -> probe(part), "plain" -> probe(plain))
      }),
    ByteRow("ann_filtered_selective", "a selective gate's probe bytes are set " +
        "by its selectivity, not the corpus: the widening and the counted " +
        "one-round width undercut the exhaustive filtered scan",
      Seq("widening" -> Some("exhaustive"), "counted" -> Some("exhaustive")), { s =>
        val dir = ivfPartition(s)
        Similarity.refreshGateCounts(spark, dir, Seq("rare")): Unit
        Map(
          "widening" -> bytesOf(Similarity.probe(spark, Ivf(dir, nProbes = 1),
            vecQueries, k = 5, Similarity.Widening(col("rare")))),
          "counted" -> bytesOf(Similarity.probe(spark, Ivf(dir), vecQueries,
            k = 5, Similarity.Counted("rare", true))),
          "exhaustive" -> bytesOf(Similarity.probe(spark, Ivf(dir, nProbes = 16),
            vecQueries, k = 5, Similarity.Where(col("rare")))))
      }),
    ByteRow("bm25_many_layout", "dynamic term sets: the partition layout's " +
        "broadcast term join carries the shard key, so DPP prunes unprobed " +
        "directories; the bucketed layout reads all postings",
      Seq("partition" -> Some("bucket")), { s =>
        val q = termBatch(s"many_q_$s", Seq((1L, Seq("dup", "spark"), "keep"),
          (2L, Seq("hash", "join", "table"), "keep"), (3L, Seq("unused"), "drop")))
        def probe(dir: String) = bytesOf(Retrieval.queryBm25IndexMany(spark, dir, q, 10))
        Map("partition" -> probe(bm25Partition(s)), "bucket" -> probe(bm25Bucketed(s)))
      }),
    // the uncapped twin is measured but not compared: at 500 docs its
    // stop postings are too small to out-grow the rare-term shards, so
    // the capped probe grows faster than it here (SURVEY §9.1)
    ByteRow("bm25_zipf", "a df-capped build drops the stop tokens' " +
        "postings from a stop-bearing probe's read set",
      Seq("capped" -> None), { s =>
        val big = zipf(corpus(s), "zz0 zz1 zz2 zz0 zz1 zz2")
        val q = termBatch(s"zipf_q_$s", Seq((1L, Seq("zz0", "rare13"), "keep"),
          (2L, Seq("zz1", "rare257"), "keep"), (3L, Seq("unused"), "drop")))
        val un = tmp(s"zipf_un_$s")
        Index.build(Index.Bm25Spec(layout = "partition", nPartDirs = 64),
          Index.Text(big, col("doc_id"), col("text")), un): Unit
        val stops = Retrieval.heavyTokens(big, col("doc_id"), col("text"),
          maxDfRatio = 0.5).select("tok").as[String].collect().toSeq
        val cap = tmp(s"zipf_cap_$s")
        Index.build(Index.Bm25Spec(layout = "partition", nPartDirs = 64,
          stopTokens = stops), Index.Text(big, col("doc_id"), col("text")), cap): Unit
        Map(
          "uncapped" -> bytesOf(Retrieval.queryBm25IndexMany(spark, un, q, 10)),
          "capped" -> bytesOf(Retrieval.queryBm25IndexMany(spark, cap, q, 10)))
      }),
    ByteRow("bm25_burst", "boilerplate that emerges after a capped build " +
        "grows a probe's bytes until compaction re-derives the stop set",
      Seq("recap" -> Some("precap")), { s =>
        val base = zipf(corpus(s), "zz0 zz1 zz2")
        val q = termBatch(s"burst_q_$s", Seq((1L, Seq("zzburst", "rare13"), "keep"),
          (2L, Seq("unused"), "drop")))
        val dir = tmp(s"burst_$s")
        val stops = Retrieval.heavyTokens(base, col("doc_id"), col("text"),
          maxDfRatio = 0.4).select("tok").as[String].collect().toSeq
        Index.build(Index.Bm25Spec(layout = "partition", nPartDirs = 64,
          stopTokens = stops, stopMaxDfRatio = Some(0.4)),
          Index.Text(base, col("doc_id"), col("text")), dir): Unit
        val maxId = base.agg(max(col("doc_id"))).head.getLong(0)
        // a same-sized batch whose every doc carries the new token: df
        // ends at 0.5 of the doubled corpus, above the recorded 0.4
        Retrieval.appendToBm25Index(base.select((col("doc_id") + maxId + 1L).as("doc_id"),
          concat(col("text"), lit(" zzburst zzburst")).as("text")),
          col("doc_id"), col("text"), dir): Unit
        def probe() = bytesOf(Retrieval.queryBm25IndexMany(spark, dir, q, 10))
        val pre = probe()
        Retrieval.compactBm25Index(spark, dir): Unit
        Map("precap" -> pre, "recap" -> probe())
      }),
    ByteRow("rag_serve", "a fixed RAG serving batch reads pruned forward-" +
        "index shards, not a re-tokenized corpus",
      Seq("text_fwd" -> Some("text_scan"), "pack_fwd" -> Some("pack_scan")), { s =>
        val big = corpus(s)
        val fdir = shared("forward", s)(d => Index.build(Index.ForwardSpec(),
          Index.Text(big, col("doc_id"), col("text")), d): Unit)
        val fused = Seq((1L, 3L, 1L, 0.9), (1L, 7L, 1L, 0.8),
          (2L, 11L, 1L, 0.7), (2L, 19L, 1L, 0.6))
          .toDF("query_id", "doc_id", "chunk_start", "rrf")
        Map(
          "text_fwd" -> bytesOf(Retrieval.contextTextsIndexed(spark, packed, fdir)),
          "text_scan" -> bytesOf(Retrieval.contextTexts(packed, big,
            col("doc_id"), col("text"))),
          "pack_fwd" -> bytesOf(Retrieval.assembleContextIndexed(spark, fused,
            fdir, size = 8, budget = 1000, maxPerDoc = 2)),
          "pack_scan" -> bytesOf(Retrieval.assembleContext(fused, big,
            col("doc_id"), col("text"), size = 8, budget = 1000, maxPerDoc = 2)))
      }),
    ByteRow("rag_pinned", "a pin that predates a compaction prunes with its " +
        "own epoch's modulus; without that epoch's record it reads unpruned",
      Seq("pinned" -> Some("no_history")), { s =>
        val fdir = tmp(s"pinned_$s")
        Index.build(Index.ForwardSpec(),
          Index.Text(corpus(s), col("doc_id"), col("text")), fdir): Unit // v0: epoch A
        Index.append(Index.Text(Seq((900000001L, "appended doc")).toDF("doc_id", "text"),
          col("doc_id"), col("text")), fdir): Unit                     // v1: the pin
        Index.compact(spark, fdir): Unit                                // v2: epoch B
        def pinned() = bytesOf(Retrieval.contextTextsIndexed(spark, packed, fdir,
          asOf = Some(1L)))
        val withHistory = pinned()
        Stamp.vacuum(spark, fdir, retainVersions = 1): Unit
        Map("pinned" -> withHistory, "no_history" -> pinned())
      }),
    ByteRow("ann_rerank", "the exact re-rank fetch is DPP-pruned to the " +
        "shortlist's shards; the retired shape streamed the float table",
      Seq("fetch_dpp" -> Some("fetch_scan")), { s =>
        // one query, k·alpha = 10: the shortlist must not cover every shard
        val queries = Corpus.hashEmbed(Seq((900000001L, Seq("dup", "spark")))
          .toDF("query_id", "terms"), col("query_id"), concat_ws(" ", col("terms")))
        val idx = tmp(s"rerank_$s")
        Index.build(Index.PqSpec(Index.Chunks(32, 16)),
          Index.Text(corpus(s), col("doc_id"), col("text")), idx): Unit
        // the ADC shortlist both forms share grows with the corpus; the
        // claim is about the fetch above it
        val floor = bytesOf(Similarity.probe(spark, Pq(idx, None), queries, k = 10))
        val dpp = bytesOf(Similarity.probe(spark, Pq(idx, Some(2)), queries, k = 5))
        val scan = bytesOf {
          val short = Similarity.probe(spark, Pq(idx, None), queries, k = 10)
            .select(col("query_id"), col("cand_id"))
          val c = Versioned.read(spark, s"$idx/vectors").select(col("cand_id"), col("cv"))
          val q = queries.select(col("id").as("query_id"),
            graft.functions.VectorOps.toDoubleArray(col("vec")).as("qv"))
          graft.operators.Ranking.topPerGroup(
            c.join(broadcast(short), Seq("cand_id")).join(broadcast(q), Seq("query_id"))
              .withColumn("dot", graft.functions.VectorOps.dot(col("qv"), col("cv"))),
            Seq(col("query_id")), Seq(col("dot").desc, col("cand_id").asc), 5)
        }
        Map("fetch_dpp" -> math.max(0L, dpp - floor),
          "fetch_scan" -> math.max(0L, scan - floor))
      }))

  byteRows.foreach { row =>
    test(s"${row.name}: ${row.claim}") {
      val (one, four) = withoutVectoredIo(atBothScales(row.measure))
      def growth(k: String) = ratio(one(k), four(k))
      val report = one.keys.toSeq.sorted.map(k =>
        f"$k ${one(k)} -> ${four(k)} (${growth(k)}%.2fx)").mkString("; ")
      info(report)
      row.pairs.foreach { case (pruned, twin) =>
        assert(growth(pruned) < scale, s"$pruned grew linearly or worse: $report")
        twin.foreach(t => assert(growth(pruned) < growth(t),
          s"$pruned grew no slower than $t: $report"))
      }
    }
  }

  test("one listener: no Scala file but EngineListener registers a SparkListener") {
    val call = "addSpark" + "Listener("
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val callers = Seq("src/main", "src/test").flatMap(d => files(new java.io.File(d)))
      .filter(f => new String(Files.readAllBytes(f.toPath), "UTF-8").contains(call))
      .map(_.getName)
    assert(callers == Seq("EngineListener.scala"), s"listener registrations: $callers")
  }
}
