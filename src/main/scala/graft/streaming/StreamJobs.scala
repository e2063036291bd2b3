package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.sources.Sources

/** Structured Streaming surface (SURVEY.md §2.8 ST1–ST3).
  *
  * The reference ingests record-at-a-time into three Kinesis streams
  * (reference user_posting_emulation_streaming.py:64-105) but shows no
  * downstream streaming query; the declared engine surface is:
  *
  *  - ST1: `readStream` with a DECLARED schema per stream (the partition
  *    key of the reference's envelope is transport framing, not data);
  *  - ST2: the SAME cleaning functions as batch ([[graft.clean.Cleaners]]
  *    are pure `DataFrame => DataFrame`) applied to the stream, persisted
  *    with exactly-once file-sink semantics via checkpointing;
  *  - ST3: one watermarked tumbling-window aggregation.
  *
  * Scale posture: micro-batch file/Kafka sources scale horizontally; the
  * windowed aggregation keeps bounded state because the watermark evicts
  * windows older than the lateness bound. Nothing here collects to the
  * driver.
  */
object StreamJobs {

  /** ST1+ST2 — stream raw JSON records through a cleaning function into
    * a parquet sink with checkpointed exactly-once semantics.
    *
    * `Trigger.AvailableNow` drains everything currently in `rawDir` as
    * micro-batches and stops — the batch-like mode the tests and the
    * daily-batch orchestration (reference 0affc6b7559b_dag.py) use. Pass
    * `continuous = true` for an always-on micro-batch stream.
    */
  def cleanToParquet(spark: SparkSession, rawDir: String, schema: StructType,
                     clean: DataFrame => DataFrame, outDir: String,
                     checkpointDir: String,
                     continuous: Boolean = false): StreamingQuery = {
    val cleaned = clean(Sources.jsonStream(spark, rawDir, schema))
    val w = cleaned.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
    (if (continuous) w else w.trigger(Trigger.AvailableNow())).start()
  }

  /** ST3 — watermarked tumbling-window count: posts per (1 hour window,
    * country) over the cleaned geo stream, tolerating 10 minutes of
    * event-time lateness (SURVEY.md §2.8 ST3 declared surface).
    *
    * Works identically on a batch DataFrame (window() is the same
    * expression; the watermark is a no-op in batch) — the oracle-checked
    * batch twin is ExtQueries.q29TumblingWindow.
    */
  def windowedCountsByCountry(cleanedGeo: DataFrame): DataFrame =
    cleanedGeo
      .withWatermark("timestamp", "10 minutes")
      .groupBy(window(col("timestamp"), "1 hour"), col("country"))
      .agg(count(lit(1)).as("n_posts"))
      .select(col("window.start").as("window_start"), col("country"), col("n_posts"))

  /** ST3 variant exercising a stream–static join: the streaming geo
    * records enrich against the (static, broadcastable) cleaned pin
    * table, then count per (window, category). At scale the static side
    * is a dimension snapshot; the join is per-micro-batch and needs no
    * stream-stream state.
    */
  def windowedCategoryCounts(cleanedGeoStream: DataFrame, pinStatic: DataFrame): DataFrame =
    cleanedGeoStream
      .withWatermark("timestamp", "10 minutes")
      .join(pinStatic.select(col("ind"), col("category")), Seq("ind"))
      .groupBy(window(col("timestamp"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n_posts"))
      .select(col("window.start").as("window_start"), col("category"), col("n_posts"))

  /** ST3+ — stream–stream inner join: geo records join pin records on
    * `ind` with an event-time bound so BOTH sides' buffers stay finite.
    * Watermarks + the time-range predicate tell Spark when a buffered
    * row can never match again and is evicted — without the bound a
    * stream-stream join buffers forever (the unbounded-state mistake).
    * The pin side carries an ingest-time column for the constraint; in
    * a Kafka deployment that is the record timestamp.
    */
  def streamStreamJoin(geoStream: DataFrame, pinStream: DataFrame,
                       withinMinutes: Int): DataFrame = {
    val g = geoStream.withWatermark("timestamp", s"$withinMinutes minutes")
      .select(col("ind"), col("country"), col("timestamp").as("geo_ts"))
    val p = pinStream.withWatermark("pin_ts", s"$withinMinutes minutes")
      .select(col("ind"), col("category"), col("pin_ts"))
    g.join(p,
      g("ind") === p("ind") &&
        col("pin_ts").between(
          col("geo_ts") - expr(s"INTERVAL $withinMinutes MINUTES"),
          col("geo_ts") + expr(s"INTERVAL $withinMinutes MINUTES")),
      "inner")
      .select(g("ind"), col("country"), col("category"), col("geo_ts"), col("pin_ts"))
  }

  /** [EXT] streaming exact dedup — the streaming half of
    * [[graft.operators.Dedup]]: drop records whose key was already seen
    * within the watermark horizon. `dropDuplicatesWithinWatermark` keeps
    * per-key state only until the watermark passes the key's event time,
    * so state stays bounded on an unbounded stream (a plain
    * `dropDuplicates` on a stream would grow state forever — the thing a
    * 100 TB/day ingest cannot do).
    */
  def dedupStream(stream: DataFrame, eventTimeCol: String, lateness: String,
                  idCols: Seq[String]): DataFrame =
    stream
      .withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** [EXT] STREAMING CURATION — the row-local half of the batch
    * curation funnel (q110) as a pure streaming transform: language-ID,
    * quality score, and the Gopher repetition rules are all per-doc, so
    * they gate a document stream with ZERO shuffles and no state
    * (repetition via [[graft.operators.Corpus.repetitionStatsLocal]],
    * the HOF form — the batch funnel's two-level hash agg cannot run on
    * an unbounded stream). Corpus-WIDE stages (near-dup clusters, the
    * global split) stay in the batch layer by design: they need the
    * full corpus; compose with [[dedupStream]] on a fingerprint column
    * for watermark-bounded exact dedup.
    *
    * Expects columns: doc_id, text, n_chars (+ anything else, carried
    * through). Emits surviving rows unchanged.
    */
  def curateStream(docs: DataFrame, minQuality: Double = 0.4): DataFrame = {
    import graft.functions.TextOps
    import graft.operators.Corpus
    docs
      .filter(TextOps.langId(col("text")) === "en")
      .filter(TextOps.qualityScore(col("text"), col("n_chars")) >= minQuality)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__rep", Corpus.repetitionStatsLocal(col("__toks")))
      .filter(!Corpus.isRepetitive(col("__rep")("distinct_ratio"),
        col("__rep")("top_token_frac"), col("__rep")("top_bigram_frac")))
      .drop("__toks", "__rep")
  }

  /** [EXT] STREAMING MIXTURE — [[graft.operators.Corpus.mixtureSample]]
    * applied to an unbounded document stream: the weight table is a
    * stream-static broadcast join, the epoch fan-out is a per-row
    * generator, and the fractional arm keys on the deterministic md5
    * bucket — zero state, zero shuffles, and every micro-batch makes
    * exactly the decision the batch operator would (replay-safe:
    * re-delivered rows re-derive the same epochs). Composes after
    * [[curateStream]] as the mixing stage of a streaming trainer-export
    * path; corpus-wide packing stays in the batch layer by design (a
    * global token offset cannot exist on an unbounded stream).
    */
  def mixStream(docs: DataFrame, domain: org.apache.spark.sql.Column,
                id: org.apache.spark.sql.Column,
                weights: Map[String, Double]): DataFrame =
    graft.operators.Corpus.mixtureSample(docs, domain, id, weights)

  /** [EXT] CDC apply — each micro-batch MERGEs into a parquet snapshot
    * (foreachBatch + [[graft.operators.Upsert.merge]]): matched keys
    * update, new keys insert, the rest carry over. The snapshot swap is
    * write-audit-publish: the merged state lands in a temp directory and
    * atomically renames over the old snapshot — never read-and-overwrite
    * in place (lazy reads would see their own deletes). Re-delivered
    * micro-batches (checkpoint replay after failure) are safe: merging
    * the same batch twice is a no-op.
    *
    * `orderCol` breaks intra-batch duplicates per key (highest wins) —
    * a micro-batch can carry several CDC events for one key.
    */
  def upsertStream(stream: DataFrame, snapshotDir: String, keys: Seq[String],
                   orderCol: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val hconf = spark.sparkContext.hadoopConfiguration
        val snap = new org.apache.hadoop.fs.Path(snapshotDir)
        val fs = snap.getFileSystem(hconf)
        val merged =
          if (fs.exists(snap))
            // orderCol resolves intra-batch duplicate keys INSIDE merge
            // (highest wins) — the fan-out guard, not a separate pass
            graft.operators.Upsert.merge(
              spark.read.parquet(snapshotDir), batch, keys, Some(orderCol))
          else graft.operators.Ranking.topPerGroup(
            batch, keys.map(org.apache.spark.sql.functions.col),
            Seq(org.apache.spark.sql.functions.col(orderCol).desc), 1)
        val tmp = new org.apache.hadoop.fs.Path(snapshotDir + ".staging")
        merged.write.mode("overwrite").parquet(tmp.toString)
        // rename-aside publish (graft.operators.Publish): the previous
        // snapshot survives until the new one holds the live name, so a
        // crashed swap + checkpoint replay re-merges against the intact
        // snapshot instead of rebuilding from empty (dropped keys)
        graft.operators.Publish.swap(fs, tmp, snap)
      }
      .start()

  /** [EXT] CDC apply into a VERSIONED table ([[graft.sources.Versioned]]):
    * each micro-batch MERGEs as one atomic commit, so readers get
    * snapshot isolation (a query never sees a half-applied batch), the
    * pre-merge state stays time-travel readable, and a crashed batch
    * leaves the table at the previous version — checkpoint replay
    * re-merges idempotently (same-batch merge is a no-op on the keys).
    * Supersedes the raw-directory swap of [[upsertStream]] wherever the
    * consumer can read through `Versioned.read`.
    */
  def upsertStreamVersioned(stream: DataFrame, table: String, keys: Seq[String],
                            orderCol: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Versioned.merge(batch, table, keys, Some(orderCol)): Unit
      }
      .start()

  /** [EXT] STATEFUL STREAMING CURATION — the FULL curation funnel on an
    * unbounded document stream. [[curateStream]] covers the row-local
    * stages only (corpus-wide stages used to be batch-layer by design);
    * with [[graft.operators.Curation]] the constraint is gone: each
    * micro-batch runs `curateBatch` against the accumulated Versioned
    * state — batch-side text work is O(micro-batch), the near-dup join
    * hits stored 8-byte shingle keys, and survivors stay derivable at
    * any commit (`Curation.survivors`, any `asOf`).
    *
    * Checkpoint-replay safe: a re-delivered micro-batch's surviving
    * norms are already keepers in state, so the whole batch anti-joins
    * away and the replay commits an EMPTY version — idempotent by the
    * same mechanism that dedups genuine re-posts. Expects monotone
    * doc ids across batches (append-only ingestion), the same
    * equivalence invariant as the batch-side operator.
    */
  def curateStreamIncremental(docs: DataFrame, stateDir: String,
                              checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Curation.curateBatch(batch, stateDir): Unit
      }
      .start()

  /** Probe a persisted ANN index ([[graft.operators.Similarity]]
    * `Index.build`) with an unbounded stream of query vectors
    * (id, vec): each micro-batch pays only probe selection + the
    * bucket scan — the online-serving half of the build-once /
    * probe-many cadence. The index version is PINNED at stream start
    * ([[graft.operators.Retrieval.pinIndex]] — a dir wedged by a crashed
    * append refuses here, naming its repair, never inside the first
    * micro-batch), so a concurrent append or rebuild never shifts answers
    * mid-stream (the operational invariant an online ranker needs);
    * restarting the stream picks up the new latest version.
    * foreachBatch because the probe is a batch join against Versioned
    * state, same pattern as [[curateStreamIncremental]].
    *
    * Exactly-once output: results land partitioned by `batch_id` with
    * dynamic partition overwrite, so a micro-batch re-delivered after
    * a crash (output written, checkpoint not yet committed) overwrites
    * its own partition instead of appending duplicate rows.
    */
  def annProbeStream(queryStream: DataFrame, indexDir: String,
                     outDir: String, checkpointDir: String,
                     k: Int = 5, nProbes: Int = 4): StreamingQuery = {
    val spark = queryStream.sparkSession
    val pinned = graft.operators.Retrieval.pinIndex(spark, indexDir)
    queryStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.operators.Similarity
            .queryIvfIndex(spark, indexDir, batch, k, nProbes,
              asOf = Some(pinned)),
          checkpointDir, batchId, outDir)
      }
      .start()
  }

  /** The idempotent foreachBatch parquet sink: partition by (run_id,
    * batch_id) and overwrite ONLY that partition (dynamic mode).
    * batch_id alone is the replay key — a micro-batch re-delivered
    * after a crash (output written, checkpoint not yet committed)
    * replaces its own prior output instead of appending duplicates —
    * but it is only unique per checkpoint, so run_id (a 64-bit md5 of
    * the CANONICAL checkpoint path, the stream's identity) keeps two
    * streams feeding the same directory from clobbering each other's
    * batch 0. Canonicalizing means a restart addressing the same
    * checkpoint through a different path spelling still replaces its
    * own partitions; 64 bits (not String.hashCode's 32) puts an
    * accidental cross-stream collision below any real fleet size.
    * At-least-once delivery, exactly-once directory contents.
    */
  private[graft] def writeBatchIdempotent(result: DataFrame, checkpointDir: String,
                                          batchId: Long, outDir: String): Unit = {
    val canonical = new java.io.File(checkpointDir).getCanonicalPath
    val runId = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    result
      .withColumn("run_id", lit(runId))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_id", "batch_id")
      .parquet(outDir)
  }

  /** Online BM25 serving against the persisted inverted index
    * ([[graft.operators.Index.build]]): each micro-batch
    * of (query_id, terms) rows pays one pass over its terms' postings
    * slices ([[graft.operators.Retrieval.queryBm25IndexMany]] — never
    * the corpus); the index version is pinned at stream start
    * ([[graft.operators.Retrieval.pinIndex]], so a wedged dir fails here
    * with the repair hint, not per-batch) and a concurrent append/rebuild
    * never shifts rankings mid-stream — a restart picks up the new
    * latest. The [[classifyStream]] discipline applied to lexical
    * search, including the idempotent (run_id, batch_id) sink.
    */
  def searchStream(queryStream: DataFrame, indexDir: String, outDir: String,
                   checkpointDir: String, k: Int = 10): StreamingQuery = {
    val spark = queryStream.sparkSession
    val pinned = graft.operators.Retrieval.pinIndex(spark, indexDir)
    queryStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.operators.Retrieval.queryBm25IndexMany(spark, indexDir,
            batch, k, asOf = Some(pinned)),
          checkpointDir, batchId, outDir)
      }
      .start()
  }

  /** Online HYBRID retrieval — the streaming half of
    * [[graft.operators.Retrieval.hybrid]]: each micro-batch of
    * (query_id, terms, vec) rows answers the request on its persisted
    * indexes (postings slices, probed buckets — never anything
    * corpus-sized) and fuses the rankings, at whichever grain the index
    * pair has. Both indexes pin at stream start
    * ([[graft.operators.Retrieval.Hybrid.pinned]] — a wedged dir refuses
    * here with its repair hint), so an append or rebuild on EITHER side
    * never reshapes fused rankings mid-stream; a restart picks up the new
    * latest pair. The request is validated at start too, by planning it
    * once on an empty batch: an un-baked predicate or a mismatched grid
    * refuses before the first micro-batch, never inside it. The
    * [[searchStream]] discipline, including the idempotent (run_id,
    * batch_id) sink.
    */
  def hybridStream(queryStream: DataFrame,
                   req: graft.operators.Retrieval.Hybrid, outDir: String,
                   checkpointDir: String, k: Int = 10): StreamingQuery = {
    val spark = queryStream.sparkSession
    val pinned = req.pinned(spark)
    graft.operators.Retrieval.hybrid(spark, pinned,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        queryStream.schema), k): Unit
    queryStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.operators.Retrieval.hybrid(spark, pinned, batch, k),
          checkpointDir, batchId, outDir)
      }
      .start()
  }

  /** The MODEL-TOKEN context packer's online half — the serving stack's
    * last streaming gap: the batch form
    * ([[graft.operators.Retrieval.assembleContextModelTokens]]) packs a
    * fused chunk ranking into a BPE-id budget, and a stream of fused
    * rankings (query_id, doc_id, chunk_start, rrf) must pack each
    * micro-batch IDENTICALLY — a whitespace-budget stream would
    * mis-provision the model window per the q165/q181 lesson. The
    * forward-index version AND the tokenizer version pin at stream
    * start (the [[hybridStream]] discipline): a daily
    * append or a mid-stream BPE retrain never changes what an in-flight
    * stream mounts or counts with — deliveries reproduce bit-for-bit
    * against the batch pack under the same pins, across a retrain
    * (a restart picks up the new latest). Idempotent (run_id, batch_id)
    * sink. Output schema = the batch packer's: (query_id, doc_id,
    * span_start, span_end, n_chunks, score, n_model_tok, cum_tok).
    */
  def assembleContextModelTokensStream(fusedStream: DataFrame,
                                       forwardDir: String, modelDir: String,
                                       outDir: String, checkpointDir: String,
                                       size: Int, budget: Int,
                                       maxPerDoc: Int = 4,
                                       byteLevel: Boolean = false): StreamingQuery = {
    val spark = fusedStream.sparkSession
    val pinnedFwd = graft.sources.Versioned
      .latestVersion(spark, s"$forwardDir/fwd")
    val pinnedModel = graft.operators.Bpe.pinModel(spark, modelDir, None)
    fusedStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.operators.Retrieval.assembleContextModelTokens(spark, batch,
            forwardDir, modelDir, size, budget, maxPerDoc, byteLevel,
            modelAsOf = Some(pinnedModel), asOf = Some(pinnedFwd)),
          checkpointDir, batchId, outDir)
      }
      .start()
  }

  /** Online classification against a persisted NB model
    * ([[graft.operators.Corpus.buildNbModel]]): each micro-batch of
    * documents pays one scoring pass against the FROZEN model tables —
    * KB-sized broadcasts, no training rescan. The model version is
    * pinned at stream start, so a concurrent retrain never shifts
    * predictions mid-stream (a restart picks up the new latest) — the
    * [[annProbeStream]] discipline applied to the classifier gate,
    * including its batch_id-partitioned idempotent sink.
    */
  def classifyStream(docStream: DataFrame, modelDir: String, outDir: String,
                     checkpointDir: String): StreamingQuery = {
    val spark = docStream.sparkSession
    val pinned = graft.operators.Corpus.pinNbModel(spark, modelDir, None)
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.operators.Corpus
            .scoreWithNbModel(spark, modelDir, batch,
              col("doc_id"), col("text"), asOf = Some(pinned)),
          checkpointDir, batchId, outDir)
      }
      .start()
  }

  /** Online doc-signals sheet: each micro-batch of documents
    * (doc_id, text, n_chars) scores against FROZEN
    * [[graft.operators.Corpus.buildSignalState]] state — row-local
    * families on the batch, corpus-global families (cross-doc dup,
    * LM perplexity) as batch×state joins against the persisted lookup
    * tables. The state version is pinned at stream start (a concurrent
    * rebuild never shifts signals mid-stream; a restart picks up the
    * new latest) and the sink is the (run_id, batch_id)-partitioned
    * idempotent parquet — the [[classifyStream]] discipline applied to
    * the whole attributes artifact. On a replayed corpus the
    * accumulated sheet is row-identical to the batch q136 sheet
    * (StreamingSpec).
    */
  def signalSheetStream(docStream: DataFrame, stateDir: String,
                        outDir: String, checkpointDir: String,
                        dupThreshold: Int = 2): StreamingQuery = {
    val spark = docStream.sparkSession
    // pin through the LOCKSTEP resolver, not one table's latest — a
    // dir wedged by a mid-commit crash fails here with the repair
    // hint instead of per-batch with a raw missing-version error
    val pinned = graft.operators.Corpus.signalStateVersion(spark, stateDir)
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.operators.Corpus.signalSheetWith(spark, stateDir, batch,
            col("doc_id"), col("text"), col("n_chars"),
            asOf = Some(pinned), dupThreshold = dupThreshold),
          checkpointDir, batchId, outDir)
      }
      .start()
  }

  /** Run a windowed aggregation stream into an in-memory table (test /
    * interactive sink; complete mode because windowed counts update).
    */
  def toMemorySink(df: DataFrame, queryName: String): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
}
