package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField,
  StructType}
import graft.functions.VectorOps
import graft.sources.Versioned

/** Similarity search over embedding columns (SURVEY.md §2.3 J7).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query side,
  *    stream the candidate side, one window per query id. O(|Q|·|C|)
  *    cosines but a single pass over the big side, no shuffle of the
  *    candidate vectors themselves. This is the correctness baseline.
  *  - [[lshTopK]] — approximate scale path: random-hyperplane signatures
  *    bucket the candidates; only same-bucket pairs are scored. At
  *    100 TB the bucket join replaces the cross product — recall is
  *    tunable by nBits/nTables.
  *
  * Norms are computed once per row BEFORE the pair join (not once per
  * pair): at |Q|=10, k=64 that is 10+N norm computations instead of 10·N.
  */
object Similarity {

  /** Exact top-k neighbors by cosine for each query row.
    *
    * @param queries    (id, vec) — must be small enough to broadcast
    * @param candidates (id, vec)
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queryVecs(queries)
    val c = candidates
      .select(col("id").as("cand_id"), VectorOps.toDoubleArray(col("vec")).as("cv"))
      .withColumn("c_norm_sq", VectorOps.normSq(col("cv")))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("sim",
        VectorOps.cosineWithNorms(col("qv"), col("cv"), col("q_norm_sq"), col("c_norm_sq")))
    // single window pass computes AND keeps the rank (a topPerGroup +
    // re-rank would run the identical window sort twice)
    scored
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim"))
  }

  /** Hard-negative mining — the contrastive-training data-prep step
    * (dense-retrieval recipes à la DPR/ANCE): for each query row, the
    * k most-similar candidates carrying a DIFFERENT label. "Close in
    * embedding space but differently labeled" is exactly the pair a
    * contrastive loss learns most from.
    *
    * Scale shape = [[bruteForceTopK]]: broadcast query side × one pass
    * over the candidate scan (declared BNLJ), with the label
    * inequality riding the join condition so same-label pairs never
    * materialize. At 100 TB the same composition rides the IVF index
    * (an IVF [[probe]] with a post-filter on label, over-fetching
    * k·labels to survive the filter) — the brute form is the exact
    * baseline the index path is measured against.
    *
    * @param queries    (id, vec, label) — small enough to broadcast
    * @param candidates (id, vec, label)
    */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries
      .select(col("id").as("query_id"), VectorOps.toDoubleArray(col("vec")).as("qv"),
        col("label").as("q_label"))
      .withColumn("q_norm_sq", VectorOps.normSq(col("qv")))
    val c = candidates
      .select(col("id").as("cand_id"), VectorOps.toDoubleArray(col("vec")).as("cv"),
        col("label").as("cand_label"))
      .withColumn("c_norm_sq", VectorOps.normSq(col("cv")))
    c.join(broadcast(q), col("cand_label") =!= col("q_label"))
      .withColumn("sim",
        VectorOps.cosineWithNorms(col("qv"), col("cv"), col("q_norm_sq"), col("c_norm_sq")))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cand_label"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplanes: component i of plane j is
    * derived from a fixed-seed xorshift mix of (j, i). Stable across
    * runs, sessions, and cluster sizes — required for reproducible
    * bucketing.
    */
  private[graft] def hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] = {
    Array.tabulate(nBits, dim) { (j, i) =>
      var x = (j.toLong << 32) | (i.toLong + 1)
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      x ^= 0x9e3779b97f4a7c15L
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      (math.abs(x % 2000001L).toDouble / 1000000.0) - 1.0
    }
  }

  /** Approximate top-k via random-hyperplane LSH: candidates whose
    * signature matches the query's in at least one band are scored.
    * nBits bits split into nBands bands → same-band-hash pairs join.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nBits: Int = 16, nBands: Int = 4): DataFrame = {
    require(nBits % nBands == 0, "nBits must divide into nBands")
    val rowsPerBand = nBits / nBands
    val planes = hyperplanes(nBits, 64)
    val planesLit = array(planes.map(p => array(p.map(lit): _*)): _*)

    def base(df: DataFrame, idAs: String): DataFrame =
      df.select(col("id").as(idAs), VectorOps.toDoubleArray(col("vec")).as(s"${idAs}_v"))
        .withColumn(s"${idAs}_norm_sq", VectorOps.normSq(col(s"${idAs}_v")))

    // bands carry only (id, band, band_key): the hyperplane signature is
    // computed exactly once per row, and the scoring join below fetches
    // vectors from the plain base projection (no signature recompute)
    def bands(b: DataFrame, idAs: String): DataFrame = {
      val v = col(s"${idAs}_v")
      val bits = transform(planesLit, p =>
        when(VectorOps.dot(v, p) >= 0, lit(1)).otherwise(lit(0)))
      b.withColumn("__bits", bits)
        .withColumn("band", explode(sequence(lit(0), lit(nBands - 1))))
        .withColumn("band_key",
          aggregate(slice(col("__bits"), col("band") * rowsPerBand + 1, lit(rowsPerBand)),
            lit(0L), (acc, b) => acc * 2 + b))
        .select(col(idAs), col("band"), col("band_key"))
    }

    val qBase = base(queries, "query_id")
    val cBase = base(candidates, "cand_id")
    // dedup band collisions on the 16-byte id pair, then join the
    // vectors back for scoring — distinct() over rows carrying two
    // 64-element arrays would shuffle the full vectors per banded pair
    val pairs = bands(cBase, "cand_id")
      .join(broadcast(bands(qBase, "query_id")), Seq("band", "band_key"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"))
      .dropDuplicates("query_id", "cand_id")
    val paired = pairs
      .join(cBase, Seq("cand_id"))
      .join(broadcast(qBase), Seq("query_id"))
      .withColumn("sim", VectorOps.cosineWithNorms(
        col("query_id_v"), col("cand_id_v"),
        col("query_id_norm_sq"), col("cand_id_norm_sq")))
    topBy(paired, "sim", k)
      .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
  }

  /** Approximate top-k via IVF (inverted-file) partitioning: candidates
    * are assigned to their nearest centroid (one pass, broadcast
    * centroids); each query scans only its `nProbes` nearest centroid
    * buckets. At scale this turns the cross product into a
    * bucket-equality join whose cost is |corpus|·nProbes/nCentroids per
    * query — the classic IVF-flat recall/cost dial.
    *
    * Seed centroids are a deterministic pseudo-random sample of the
    * corpus (smallest md5-bucket key: stable across runs and cluster
    * sizes, reproducible by an external engine). `lloydIters` runs that
    * many k-means (Lloyd) refinement passes over the seeds — each is
    * one assignment pass plus a per-dimension mean. The means are
    * DETERMINISTIC AND CROSS-ENGINE REPRODUCIBLE: per-dimension sums
    * run in DECIMAL(27,10) (exact, order-independent — a double sum
    * would vary with partitioning), then one double division by the
    * cluster size. Empty clusters drop; their seed id disappears from
    * the centroid set in every engine identically.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nCentroids: Int = 16, nProbes: Int = 4,
              lloydIters: Int = 0): DataFrame = {
    val c = prepCandidates(candidates)
    val (centroids, assigned) = centroidsAndAssignment(c, nCentroids, lloydIters)
    probeIndex(queries, joinedCents(centroids), assigned, k, nProbes)
  }

  /** Corpus projection shared by the inline and persisted IVF paths. */
  private def prepCandidates(candidates: DataFrame): DataFrame = candidates
    .select(col("id").as("cand_id"), VectorOps.toDoubleArray(col("vec")).as("cv"))
    .withColumn("c_norm_sq", VectorOps.normSq(col("cv")))

  /** Core assignment columns across the index family; anything else on
    * an assignment row is caller-baked METADATA — the columns a
    * filtered probe may gate on. */
  private val assignmentCoreCols =
    Set("centroid_id", "cand_id", "cv", "c_norm_sq", "cq", "pqcode")

  private def assignmentMetaCols(assigned: DataFrame): Seq[String] =
    assigned.columns.toSeq.filterNot(assignmentCoreCols)

  /** Metadata columns a persisted index's assignment carries — what a
    * composing caller (the chunk-grain appenders) must re-derive for
    * its batch before handing it to the append. */
  private[operators] def indexMetaCols(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Seq[String] =
    assignmentMetaCols(
      graft.sources.Versioned.read(spark, s"$indexDir/assignment"))

  /** Bake caller-named metadata columns (language, date, license — the
    * filtered-search gates) onto index rows by cand_id. One equality
    * join at BUILD/APPEND cadence buys every probe a join-free,
    * scan-resident gate. */
  private def withMeta(rows: DataFrame, source: DataFrame,
                       metaCols: Seq[String]): DataFrame =
    if (metaCols.isEmpty) rows
    else rows.join(
      source.select((col("id").as("cand_id") +: metaCols.map(col)): _*),
      Seq("cand_id"))

  /** The IVF build: deterministic seed sample, optional Lloyd passes,
    * final assignment. Returns (centroids, assignment) — exactly the
    * two relations a persisted index stores.
    */
  private def centroidsAndAssignment(c: DataFrame, nCentroids: Int,
                                     lloydIters: Int): (DataFrame, DataFrame) = {
    // Sample key = md5-derived long (graft's deterministic hash-bucket
    // family): stable across runs/layouts like xxhash64, but computable
    // in any engine — which is what lets the DuckDB oracle reproduce
    // the centroid set and hash-check the whole IVF pipeline.
    val sampleKey =
      conv(substring(md5(col("cand_id").cast("string")), 1, 8), 16, 10).cast("long")
    val seeds = c
      .orderBy(sampleKey.asc, col("cand_id").asc)
      .limit(nCentroids)
      .select(col("cand_id").as("centroid_id"), col("cv").as("centv"),
        col("c_norm_sq").as("cent_norm_sq"))

    val centroids = (1 to lloydIters).foldLeft(seeds) { (cent, _) =>
      assignTo(c, cent)
        .select(col("centroid_id"), posexplode(col("cv")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(col("col").cast("decimal(27,10)")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"),
            (col("s").cast("double") / col("n")).as("m")))),
          x => x("m")).as("centv"))
        .withColumn("cent_norm_sq", VectorOps.normSq(col("centv")))
        .select(col("centroid_id"), col("centv"), col("cent_norm_sq"))
    }
    (centroids, assignTo(c, centroids))
  }

  /** Centroid set as ONE row holding an array of (centroid_id, centv,
    * cent_norm_sq) structs: broadcast-joined onto the corpus so nearest-
    * centroid selection is a PER-ROW array fold — zero shuffles of the
    * corpus, where the previous window-ranking form (`topPerGroup` over
    * candidate×centroid pairs) shuffled the full corpus WITH its vectors
    * once per call and once per Lloyd iteration. At 100 TB that window
    * was 1+lloydIters avoidable full-corpus vector shuffles.
    */
  private def centArray(cent: DataFrame): DataFrame = cent
    .agg(collect_list(struct(col("centroid_id"), col("centv"),
      col("cent_norm_sq"))).as("cents"))

  /** Attach the `cents` array of a centroid set computed in-plan: the
    * broadcast [[centArray]] row. */
  private def joinedCents(cent: DataFrame): DataFrame => DataFrame =
    _.join(broadcast(centArray(cent)), lit(true))

  private val centFields = Seq("centroid_id", "centv", "cent_norm_sq")

  /** The stored centroid dim — the width a chunk-grain append embeds at. */
  private[operators] def centroidDim(spark: SparkSession, indexDir: String): Int =
    centRows(spark, indexDir, None).head.getSeq[Double](1).size

  /** A persisted index's centroid rows at `asOf`, read once per centroids
    * version ([[Versioned.rows]] — nCentroids rows, bounded by
    * construction). */
  private def centRows(spark: SparkSession, indexDir: String,
                       asOf: Option[Long]): IndexedSeq[Row] =
    Versioned.rows(spark, s"$indexDir/centroids", asOf, centFields)

  /** The [[centArray]] value of a PERSISTED index's centroids at `asOf`
    * as a plan literal ([[centRows]]), so a probe runs no collect or
    * broadcast job for it; `counts` appends each centroid's eligible
    * count `n` (0 when absent) for the [[Counted]] prefix. Same value as
    * the aggregate: the probe's total order makes the array order
    * irrelevant.
    */
  private def centroidArray(spark: SparkSession, indexDir: String,
                            asOf: Option[Long],
                            counts: Option[Map[Any, Long]]): Column = {
    val schema = Versioned.read(spark, s"$indexDir/centroids", asOf).schema
    val fields = centFields.map(schema(_)) ++
      counts.map(_ => StructField("n", LongType, nullable = false))
    literal(ArrayType(StructType(fields), containsNull = false),
      centRows(spark, indexDir, asOf).map(r => counts.fold(r)(n =>
        Row.fromSeq(r.toSeq :+ n.getOrElse(r.get(0), 0L)))))
  }

  /** A Scala value of type `dt` as a Catalyst literal column. */
  private def literal(dt: DataType, value: Any): Column =
    org.apache.spark.sql.GraftColumnBridge.column(Literal(
      CatalystTypeConverters.createToCatalystConverter(dt)(value), dt))

  /** (sim, centroid_id) per centroid, computed once per element inside
    * `transform` (the lambda binds everything it dereferences — an
    * unbound subexpression would re-evaluate per element). Null sims
    * (zero-norm vectors) rank last, matching the window form's
    * descending NULLS LAST.
    */
  private def scoredCents(v: Column, normSq: Column): Column =
    transform(col("cents"), ct => struct(
      coalesce(VectorOps.cosineWithNorms(v, ct("centv"), normSq, ct("cent_norm_sq")),
        lit(Double.NegativeInfinity)).as("sim"),
      ct("centroid_id").as("centroid_id")))

  /** Comparator = sim DESC, centroid_id ASC — the same total order the
    * window form used, so ties resolve identically (order-independent:
    * collect_list's arbitrary array order cannot change the result).
    */
  private val bySimDescIdAsc = (l: Column, r: Column) =>
    when(l("sim") > r("sim"), lit(-1)).when(l("sim") < r("sim"), lit(1))
      .when(l("centroid_id") < r("centroid_id"), lit(-1))
      .when(l("centroid_id") > r("centroid_id"), lit(1)).otherwise(lit(0))

  /** Assignment: nearest centroid per candidate (cosine, ties → smaller
    * id), map-side per-row argmax over the broadcast centroid array.
    */
  private def assignTo(c: DataFrame, cent: DataFrame): DataFrame =
    joinedCents(cent)(c)
    .withColumn("__best",
      element_at(array_sort(scoredCents(col("cv"), col("c_norm_sq")), bySimDescIdAsc), 1))
    .select(col("__best")("centroid_id").as("centroid_id"),
      col("cand_id"), col("cv"), col("c_norm_sq"))

  /** The probe pipeline up to (query_id, cand_id, sim) scored pairs —
    * the pre-ranking seam the inline path and label-aware consumers
    * ([[hardNegativesIndexed]]) share: probe selection is map-side
    * (sort the centroid array, slice, explode), and only the probed
    * buckets are scanned ([[cosineScored]]).
    */
  private def probeScored(queries: DataFrame,
                          withCents: DataFrame => DataFrame,
                          assigned: DataFrame, nProbes: Int): DataFrame =
    cosineScored(probesOf(queryVecs(queries), withCents, nProbes), assigned)

  /** The query side of an IVF probe: (query_id, qv, q_norm_sq). */
  private def queryVecs(queries: DataFrame): DataFrame =
    queries
      .select(col("id").as("query_id"), VectorOps.toDoubleArray(col("vec")).as("qv"))
      .withColumn("q_norm_sq", VectorOps.normSq(col("qv")))

  /** IVF probe selection, map-side: rank the centroid array
    * `withCents` attaches per query (sim DESC, id ASC), keep the first
    * `nProbes`, explode — (query_id, centroid_id, qv, q_norm_sq), one
    * row per probed centroid. */
  private def probesOf(q: DataFrame, withCents: DataFrame => DataFrame,
                       nProbes: Int): DataFrame =
    withCents(q)
      .withColumn("__probe", explode(slice(
        array_sort(scoredCents(col("qv"), col("q_norm_sq")), bySimDescIdAsc),
        1, nProbes)))
      .select(col("query_id"), col("__probe")("centroid_id").as("centroid_id"),
        col("qv"), col("q_norm_sq"))

  /** Probe + scan + rank against an in-plan (centroids, assignment)
    * pair — the inline [[ivfTopK]]. */
  private def probeIndex(queries: DataFrame,
                         withCents: DataFrame => DataFrame,
                         assigned: DataFrame, k: Int, nProbes: Int): DataFrame =
    topBy(probeScored(queries, withCents, assigned, nProbes), "sim", k)
      .orderBy(col("query_id"), col("sim").desc, col("cand_id"))

  /** [[hardNegatives]] over a persisted IVF index — the scale path:
    * only the probed buckets are scanned, and the label constraint is
    * applied to the FULL scored candidate set BEFORE ranking (not as a
    * post-filter on an already-truncated top-k, which could starve a
    * query whose nearest neighbors share its label). Labels ride a
    * separate (id, label) relation joined on cand_id — an equality
    * join against the pruned pair stream; a deployment that mines
    * negatives every day would bake the label column into the index
    * assignment instead and skip the join.
    *
    * With nProbes = nCentroids the bucket scan is exhaustive and the
    * output is EXACTLY [[hardNegatives]] (spec-proven, and how the
    * oracle checks it); at lower probe counts recall follows the
    * RecallProbe dial like every other index consumer.
    */
  def hardNegativesIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, candLabels: DataFrame, k: Int,
      nProbes: Int = 4, asOf: Option[Long] = None): DataFrame = {
    val cents = centroidArray(spark, indexDir, asOf, None)
    val scored = probeScored(queries.select(col("id"), col("vec")),
      _.withColumn("cents", cents), pinnedAssignment(spark, indexDir, asOf),
      nProbes)
    val qLab = queries.select(col("id").as("query_id"), col("label").as("q_label"))
    val cLab = candLabels.select(col("id").as("cand_id"), col("label").as("cand_label"))
    scored
      .join(broadcast(qLab), Seq("query_id"))
      .join(cLab, Seq("cand_id"))
      .filter(col("cand_label") =!= col("q_label"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cand_label"), col("sim"))
  }

  /** Build the IVF index ONCE and persist it as two
    * [[graft.sources.Versioned]] tables under `indexDir`
    * (`centroids/`, `assignment/`): a real 100 TB deployment builds the
    * index in one batch job and probes it many times — recomputing
    * seeds, Lloyd passes, and the full corpus assignment per query
    * batch (the inline [[ivfTopK]] shape) would rescan the corpus every
    * time. Both tables commit atomically-enough for this engine's
    * single-writer builds: one `overwrite` version each per build, so
    * version N of `centroids/` pairs with version N of `assignment/` —
    * and time travel (`asOf`) reproduces any historical index exactly.
    * Returns the committed version.
    */
  /** Commit an index assignment table in the chosen physical layout:
    * "bucket" (default) co-locates by centroid — per-centroid work and
    * shuffle-fallback probe joins run Exchange-free on the corpus-sized
    * side; "partition" lays each centroid in its own directory — a
    * probe join against a storage-backed query batch DYNAMICALLY
    * prunes to the probed centroids' directories (Spark DPP), so a
    * probe reads ~nProbes/nCentroids of the assignment BYTES, the
    * byte-level lever bucketing cannot give a data-dependent join.
    */
  private def commitAssignment(assigned: DataFrame, table: String,
                               layout: String, nBuckets: Int): Long =
    layout match {
      case "bucket" => graft.sources.Versioned.overwriteBucketed(
        assigned, table, "centroid_id", nBuckets)
      case "partition" => graft.sources.Versioned.overwritePartitioned(
        assigned, table, "centroid_id")
      case other => throw new IllegalArgumentException(
        s"assignment layout must be bucket or partition, got $other")
    }

  /** Append to an assignment table honoring its DECLARED layout: a
    * partitioned table's batches must land partitioned (plain appends
    * are refused by [[graft.sources.Versioned]]); bucketed/plain tables
    * append plain and compact later.
    */
  private def appendAssignment(rows: DataFrame, table: String): Long = {
    val spark = rows.sparkSession
    if (graft.sources.Versioned.declaredLayout(spark, table)
        .startsWith("part:"))
      graft.sources.Versioned.appendPartitioned(rows, table, "centroid_id")
    else graft.sources.Versioned.append(rows, table)
  }

  private[operators] def ivfBuild(candidates: DataFrame, indexDir: String,
                                  spec: Index.IvfSpec): Long = {
    val c = prepCandidates(candidates)
    val (centroids, assigned0) =
      centroidsAndAssignment(c, spec.nCentroids, spec.lloydIters)
    // metadata gates ride the assignment rows ([[withMeta]]): one build-
    // cadence join so gated [[probe]]s pay neither a
    // join nor a distance eval for gated candidates
    val assigned = withMeta(assigned0, candidates, spec.metaCols)
    Versioned.overwrite(centroids, s"$indexDir/centroids"): Unit
    commitAssignment(assigned, s"$indexDir/assignment", spec.layout,
      spec.nBuckets)
  }

  /** Append a vector batch to a persisted IVF, IVF-SQ8 or IVF-PQ index
    * WITHOUT rebuilding: the new vectors are assigned to the EXISTING
    * (frozen) centroids — and, for PQ, encoded on the frozen codebook —
    * in one map-side pass over the batch, with no seed resample, no Lloyd
    * passes and no touch of the already-assigned corpus (FAISS `add`;
    * centroid drift is the retrain cadence's dial). Every table commits,
    * in the family's declared order, so versions stay lockstep: a PQ
    * index lands its full-precision vectors FIRST (the postings-first
    * discipline — a crash after it leaves the raw batch on disk, from
    * which [[annRepair]] COMPLETES the append; the codes being lossy, the
    * reverse order was unwedgeable), then re-commits the unchanged
    * centroids and codebook; a float or SQ8 index re-commits its
    * centroids, so `asOf = n` still snapshots a coherent set. The SQ8
    * codes quantize on the index's stored scale and the PQ encode
    * parameters (m, sub, residual) come off the stored codebook — never
    * the caller. The dim guard (the stored centroid dim) rides the FIRST
    * write, so a wrong-dimension batch refuses before anything commits;
    * a meta-carrying index refuses a batch missing its baked columns.
    */
  private[operators] def annAppend(batch: DataFrame, indexDir: String,
                                   fam: Index.Family): Long = {
    val spark = batch.sparkSession
    val centroids = Versioned.read(spark, s"$indexDir/centroids")
    val meta = assignmentMetaCols(Versioned.read(spark, s"$indexDir/assignment"))
    val metaMissing = meta.filterNot(batch.columns.contains)
    require(metaMissing.isEmpty,
      s"$indexDir assignment carries metadata column(s) " +
        s"${meta.mkString(", ")} (filtered-probe gates); the append batch " +
        s"must supply them — missing: ${metaMissing.mkString(", ")}")
    val c = prepCandidates(batch)
    val badDims = c
      .crossJoin(broadcast(centroids.agg(max(size(col("centv"))).as("__dim"))))
      .filter(size(col("cv")) =!= col("__dim"))
      .agg(count(lit(1)).as("__bad"))
    def guarded(first: DataFrame): DataFrame = first
      .crossJoin(broadcast(badDims))
      .filter(assert_true(col("__bad") === 0L,
        lit(s"${fam.name} append dim mismatch on $indexDir: the batch " +
          "carries vectors whose length differs from the index's stored " +
          "centroid dim — re-embed the batch with the build's encoder/dim; " +
          "nothing was committed")).isNull)
      .drop("__bad")
    val assigned = assignTo(c, centroids.select(centFields.map(col): _*))
    val rows = fam match {
      case Index.Sq8 => assigned.select(col("centroid_id"), col("cand_id"))
        .join(sq8Apply(c.select(col("cand_id"), col("cv").as("v")),
          centroids.select(col("s")).limit(1)), Seq("cand_id"))
        .select(col("centroid_id"), col("cand_id"), col("q").as("cq"))
      case Index.Pq =>
        val (m, sub, _, residual) = pqParams(spark, indexDir, None)
        val encBase = if (residual) residualsOf(assigned, centroids) else c
        assigned.select(col("centroid_id"), col("cand_id"))
          .join(withPqCodes(encBase, Versioned.read(spark,
            s"$indexDir/codebook"), m, sub).select(col("cand_id"),
            col("pqcode")), Seq("cand_id"))
          .select(col("centroid_id"), col("cand_id"), col("pqcode"))
      case _ => assigned
    }
    val assignedNew = withMeta(rows, batch, meta)
    if (fam == Index.Pq) {
      val nVec = Stamp.read(spark, indexDir, Stamp.VecParts).getOrElse(
        sys.error(s"$indexDir vectors table's ${Stamp.VecParts.name} " +
          s"sidecar is absent or stale — ${fam.artifact.remedy}"))
      Versioned.appendPartitioned(guarded(
        withMeta(c.select(col("cand_id"), col("cv")), batch, meta)
          .withColumn("vec_part", pmod(col("cand_id"), lit(nVec.toLong)))),
        s"$indexDir/vectors", "vec_part"): Unit
      Versioned.overwrite(centroids, s"$indexDir/centroids"): Unit
      Versioned.overwrite(Versioned.read(spark, s"$indexDir/codebook"),
        s"$indexDir/codebook"): Unit
    } else Versioned.overwrite(guarded(centroids), s"$indexDir/centroids"): Unit
    val va = appendAssignment(assignedNew, s"$indexDir/assignment")
    // gatecounts sidecar (if present): fold the batch in additively —
    // a crash before this lands leaves it stale, which probes detect
    // (fall back to adaptive) and compact/rebuild re-derive
    maintainGateCountsAfterAppend(spark, indexDir, assignedNew,
      vaPrev = va - 1, vaNew = va)
    va
  }

  /** The PQ encode parameters (m, sub, ks, residual) off the codebook at
    * `asOf` — read once per codebook version ([[Versioned.rows]]). A
    * codebook persisted before the residual flag existed was raw. */
  private[operators] def pqParams(spark: SparkSession, indexDir: String,
                                  asOf: Option[Long]): (Int, Int, Int, Boolean) = {
    val t = s"$indexDir/codebook"
    val hasRes = Versioned.read(spark, t, asOf).columns.contains("res")
    val rows = Versioned.rows(spark, t, asOf,
      Seq("j", "code", "cb") ++ (if (hasRes) Seq("res") else Nil))
    val m = rows.map(_.get(0).asInstanceOf[Number].intValue).max + 1
    (m, rows.map(_.getSeq[Double](2).size).max, rows.size / m,
      hasRes && rows.head.getBoolean(3))
  }

  /** Repair an IVF / IVF-SQ8 / IVF-PQ index wedged between its table
    * commits (the BM25 repair discipline applied to the ANN family).
    * Every writer commits the family's tables in declared order with the
    * assignment LAST, so the only crash shape is a prefix of the other
    * tables advanced by exactly one. Advanced centroids/codebook must be
    * IDENTICAL to their previous version (nCentroids / m·ks rows — the
    * comparison is trivial): a crashed REBUILD leaves the same version
    * shape with CHANGED content, and pairing new centroids with the old
    * assignment would be silent corruption, so that shape refuses
    * loudly; a rebuild recovers. A missing table (a build crash) also
    * refuses: the assignment IS the data, nothing to recompute from.
    *
    *  - Float and SQ8 indexes: the batch's assignment rows died with the
    *    crashed process, so the repair is a catch-up — lagging tables
    *    re-commit their unchanged content and the assignment gains an
    *    empty commit, leaving the index exactly at its pre-append state;
    *    the caller re-appends the whole batch.
    *  - IVF-PQ (full-precision `vectors` committed FIRST, the landing
    *    table): a crashed APPEND is COMPLETED from the orphan vectors
    *    slice, re-encoded on the frozen centroids + codebook with the
    *    encode parameters off the codebook itself. A crashed COMPACTION
    *    (vectors overwritten with identical (cand_id, cv) content, or
    *    minus tombstoned rows) heals with catch-up commits; a crashed
    *    REBUILD (changed content) refuses.
    *
    * Returns the restored lockstep version; no-op when intact.
    */
  private[operators] def annRepair(spark: SparkSession, indexDir: String,
                                   fam: Index.Family): Long = {
    def at(t: String, v: Long) = Versioned.read(spark, s"$indexDir/$t", Some(v))
    val tables = fam.artifact.tables
    val missing = tables.filterNot(t => Versioned.exists(spark, s"$indexDir/$t"))
    require(missing.isEmpty, s"$indexDir has no ${missing.mkString("/")} " +
      "table — a build crashed before its tables landed; rebuild the index")
    val heads = tables.map(t => t -> Versioned.latestVersion(spark, s"$indexDir/$t"))
    val va = heads.last._2
    val ahead = heads.init
    if (ahead.forall(_._2 == va)) return va // intact
    require(ahead.head._2 == va + 1 && ahead.forall(_._2 >= va) &&
        ahead.map(_._2) == ahead.map(_._2).sorted.reverse,
      s"$indexDir tables are not in a crashed-commit shape " +
        s"(${heads.map(h => s"${h._1} v${h._2}").mkString(", ")}) — no " +
        "commit order here produces this; rebuild into a fresh directory")
    val landing = fam.landing.map(_._1)
    ahead.filter(h => h._2 == va + 1 && !landing.contains(h._1)).foreach {
      case (t, v) =>
        require(at(t, v).exceptAll(at(t, v - 1)).isEmpty &&
            at(t, v - 1).exceptAll(at(t, v)).isEmpty,
          s"$indexDir/$t v$v CHANGED content vs v${v - 1} — a crashed " +
            "REBUILD, not a crashed append or compaction: an automated " +
            "repair would pair new centroids with the old assignment; " +
            "rebuild into a fresh directory")
    }
    // lagging tables re-commit their unchanged content
    def catchUp(): Unit = Versioned.pad(spark, indexDir, ahead.map(_._1), va + 1)
    val emptyAppend = () =>
      appendAssignment(at("assignment", va).limit(0), s"$indexDir/assignment")
    val docX = Retrieval.docKeyExpr(spark, indexDir, col("cand_id"))
    if (landing.isEmpty) { catchUp(); return emptyAppend() }
    val vv = va + 1
    if (Versioned.history(spark, s"$indexDir/vectors").last._2 == "overwrite") {
      // a COMPACTION died mid-way: verify the vectors overwrite added
      // nothing and removed at most TOMBSTONED rows (a pure rewrite, or
      // a tombstone merge — [[annCompact]] drops pending deletes), then
      // catch the lagging tables up. Anything else is a crashed REBUILD
      // and refuses.
      val now  = at("vectors", vv).select(col("cand_id"), col("cv"))
      val prev = at("vectors", va).select(col("cand_id"), col("cv"))
      require(now.exceptAll(prev).isEmpty,
        s"$indexDir/vectors v$vv ADDED content vs v$va — a " +
          "crashed REBUILD, not a crashed compaction; rebuild into a " +
          "fresh directory")
      val gone = prev.exceptAll(now).select(col("cand_id")).distinct()
      val goneUntombed = Tombstones.of(spark, indexDir) match {
        case None => gone
        case Some(t) => gone.join(
          broadcast(t.select(col("doc_id").as("__ts_doc"))),
          docX === col("__ts_doc"), "left_anti")
      }
      require(goneUntombed.isEmpty,
        s"$indexDir/vectors v$vv REMOVED non-tombstoned rows vs " +
          s"v$va — a crashed REBUILD, not a crashed compaction or " +
          "tombstone merge; rebuild into a fresh directory")
      catchUp()
      // complete the merge on the assignment: a crashed tombstone drop
      // re-applies the CURRENT tombstone set (a superset of the crashed
      // run's is safe — gates already hide those rows everywhere, and
      // the vectors rows they orphan drop at the next compaction); a
      // pure compaction catches up with an empty append as before
      return if (gone.isEmpty) emptyAppend()
        else Versioned.overwriteLike(Tombstones.gate(spark, indexDir,
          at("assignment", va), docX), s"$indexDir/assignment")
    }
    // a crashed APPEND: the orphan full-precision slice IS the batch —
    // COMPLETE the append by re-encoding it on the frozen centroids +
    // codebook (new-id-only append invariant makes cand_id membership
    // the delta); the slice carries the baked metadata too (the
    // build/append write it onto the vectors table precisely so this
    // repair can restore a meta-carrying assignment row set)
    val metaR = assignmentMetaCols(at("assignment", va))
    val orphan = at("vectors", vv)
      .select((col("cand_id") +: col("cv") +: metaR.map(col)): _*)
      .join(at("vectors", va).select(col("cand_id")), Seq("cand_id"), "left_anti")
    val (m, sub, _, residual) = pqParams(spark, indexDir, None)
    val centroids = Versioned.read(spark, s"$indexDir/centroids")
    val c = orphan.withColumn("c_norm_sq", VectorOps.normSq(col("cv")))
    val assignedB = assignTo(c, centroids.select(centFields.map(col): _*))
    val encBase = if (residual) residualsOf(assignedB, centroids) else c
    val delta = withMeta(assignedB.select(col("centroid_id"), col("cand_id"))
      .join(withPqCodes(encBase, Versioned.read(spark, s"$indexDir/codebook"),
        m, sub).select(col("cand_id"), col("pqcode")), Seq("cand_id"))
      .select(col("centroid_id"), col("cand_id"), col("pqcode")),
      orphan.withColumnRenamed("cand_id", "id"), metaR)
    catchUp()
    appendAssignment(delta, s"$indexDir/assignment")
  }

  /** Compact a persisted IVF / IVF-SQ8 / IVF-PQ index after appends:
    * re-establishes the assignment table's bucketed-by-centroid layout
    * (appended batches land as plain files, demoting reads until the
    * rewrite) and keeps EVERY table of the index in version lockstep —
    * compacting just one would make all consumers refuse. Same crash
    * contract as append: a failure between table commits leaves the
    * prefix shape [[annRepair]] heals.
    */
  private[operators] def annCompact(spark: SparkSession, indexDir: String,
                                    fam: Index.Family): Long = {
    val docX = Retrieval.docKeyExpr(spark, indexDir, col("cand_id"))
    val hasTomb = Tombstones.of(spark, indexDir).nonEmpty
    // the vectors table compacts FIRST (mirroring the append order, so
    // a mid-way crash leaves the repairable vectors-ahead shape) and
    // RE-DERIVES its shard modulus from the grown corpus: a compaction
    // rewrites the snapshot anyway, so the re-shard is free — probed
    // shard bytes stay flat as appends accumulate instead of growing
    // with the corpus. Pending deletes ([[Tombstones]]) drop here too —
    // this is the index family's merge step; centroids/codebook are
    // corpus-level models, untouched until the rebuild cadence.
    val vs = fam.artifact.tables.map {
      case "vectors" =>
        // every column except the re-derived vec_part survives the
        // rewrite: baked metadata rides the vectors table precisely so
        // the crashed-append repair and post-compaction appends can
        // restore/extend a meta-carrying assignment (a bare
        // (cand_id, cv) projection here would silently strip it)
        val all = Versioned.read(spark, s"$indexDir/vectors")
        val cur = Tombstones.gate(spark, indexDir,
          all.select(all.columns.filterNot(_ == "vec_part").map(col): _*),
          docX)
        val n = autoVecShards(cur.count())
        val v = Versioned.overwritePartitioned(
          cur.withColumn("vec_part", pmod(col("cand_id"), lit(n.toLong))),
          s"$indexDir/vectors", "vec_part")
        Stamp.write(spark, indexDir, Stamp.VecParts, n, v)
        v
      case "assignment" if hasTomb =>
        Versioned.overwriteLike(Tombstones.gate(spark, indexDir,
          Versioned.read(spark, s"$indexDir/assignment"), docX),
          s"$indexDir/assignment")
      case t => Versioned.compact(spark, s"$indexDir/$t")
    }
    // the merge is where tombstoned rows leave the data — re-derive the
    // gatecounts sidecar so one-shot probes stay byte-tight (and heal
    // any staleness a crashed append left)
    refreshGateCountsIfPresent(spark, indexDir)
    vs.last
  }

  // ------------------------------------------------- retrain-cadence rebuild

  /** The corpus a RETRAIN rebuilds a float IVF or IVF-PQ index from: the
    * index's OWN rows (float assignments carry full-precision cv; PQ has
    * its `vectors` table), so no external table is consulted — the
    * [[graft.operators.Bpe]] retrain discipline: a fresh lockstep
    * overwrite version; pinned `asOf` consumers keep their epoch (the
    * per-epoch sidecar history), and pending tombstones drop here too (a
    * rebuild is the strongest merge). FAISS-add appends freeze centroids
    * (and codebooks) at build and recall decays as the corpus drifts;
    * this is the dial. SQ8 refuses (codes only — the original vectors
    * are gone).
    *
    * Read inside the rebuild's commit rule ([[Versioned.rewrite]]), which
    * has already padded any skew a prior rebuild that died between its
    * overwrites left (content-identical commits), so the latest tables
    * are one consistent set.
    */
  private[operators] def ownRows(spark: SparkSession, indexDir: String,
                                 fam: Index.Family): DataFrame = {
    require(fam != Index.Sq8, s"$indexDir is an SQ8 index — its assignment " +
      "stores codes, not vectors; rebuild from the original corpus with " +
      "Index.build")
    val src = fam.landing.fold("assignment")(_._1)
    val rows = Tombstones.gate(spark, indexDir,
      Versioned.read(spark, s"$indexDir/$src"),
      Retrieval.docKeyExpr(spark, indexDir, col("cand_id")))
    val meta = assignmentMetaCols(Versioned.read(spark, s"$indexDir/assignment"))
    rows.select((col("cand_id").as("id") +: col("cv").as("vec") +:
      meta.map(col)): _*)
  }

  /** The build spec an ANN dir records at its last lockstep version:
    * centroid count and dim (off the centroid literal), assignment layout,
    * baked metadata, and for PQ the codebook's (m, ks, residual) — what a
    * retrain rebuilds with ([[Index.recorded]]). */
  private[operators] def recordedSpec(spark: SparkSession, indexDir: String,
                                      fam: Index.Family,
                                      grain: Index.Grain): Index.Spec = {
    val vLock = fam.artifact.tables.map(t => Versioned.latestVersion(spark,
      s"$indexDir/$t")).min
    val cents = centRows(spark, indexDir, Some(vLock))
    val dim = cents.head.getSeq[Double](1).size
    val (layout, nBuckets) = assignLayoutOf(spark, indexDir)
    val meta = assignmentMetaCols(
      Versioned.read(spark, s"$indexDir/assignment", Some(vLock)))
    fam match {
      case Index.Sq8 => Index.Sq8Spec(cents.size, 0, nBuckets, layout)
      case Index.Pq =>
        val (m, sub, ks, residual) = pqParams(spark, indexDir, Some(vLock))
        Index.PqSpec(grain, cents.size, m, ks, dim = m * sub,
          residual = residual, nBuckets = nBuckets, layout = layout,
          metaCols = meta)
      case _ => Index.IvfSpec(grain, cents.size, 0, nBuckets, layout, meta, dim)
    }
  }

  /** The assignment table's declared physical layout, as
    * (layout name, nBuckets). */
  private def assignLayoutOf(spark: SparkSession,
                             indexDir: String): (String, Int) =
    Versioned.declaredLayout(spark, s"$indexDir/assignment") match {
      case l if l.startsWith("bucket:") => ("bucket", l.split(":")(2).toInt)
      case l if l.startsWith("part:") => ("partition", 8)
      case _ => ("bucket", 8)
    }

  // ------------------------------------------------- ANN probe request

  /** The candidate gate of an ANN probe ([[probe]]). Every gate applies
    * to the FULL probed-candidate stream BEFORE scoring and ranking — a
    * post-filter on an already-truncated top-k starves a query whose
    * nearest neighbors are gated (the [[hardNegativesIndexed]] lesson) —
    * and rides the probed-bucket SCAN itself: the gate columns were baked
    * into the assignment rows at build (`metaCols`), so gated candidates
    * die at the scan without a join OR a distance evaluation. A
    * predicate naming a column the index does not carry REFUSES
    * ([[Retrieval.requirePredicate]]). With nProbes = nCentroids a gated probe
    * is EXACTLY the brute-force top-k over the filtered corpus.
    */
  sealed trait Gate

  /** No gate: every candidate in the probed buckets ranks. */
  case object Ungated extends Gate

  /** A metadata predicate at the arm's fixed probe width. */
  final case class Where(predicate: Column) extends Gate

  /** A metadata predicate with ADAPTIVE probe widening — the filtered-ANN
    * starvation fix (the problem ACORN and FAISS's selectivity-aware
    * probing address): a selective gate can leave fewer than k eligible
    * candidates inside the probed buckets while eligible vectors sit in
    * unprobed ones. When any query underfills, the probe width DOUBLES
    * and the probe re-runs, until every query fills k or the scan is
    * exhaustive (then EXACTLY the filtered brute force). Total probed
    * bytes ≤ 2× what the right width would have paid; a batch that fills
    * k at the starting width pays the [[Where]] plan plus one |Q|-row
    * underfill check (a bounded control read).
    */
  final case class Widening(predicate: Column) extends Gate

  /** A CATEGORICAL gate `gateCol = gateVal` with the probe width chosen
    * in ONE shot from the index's `gatecounts` sidecar
    * ([[refreshGateCounts]]): each query ranks the centroids as usual,
    * then takes the shortest prefix whose cumulative eligible count
    * reaches k+1 (one row of headroom for the self-match exclusion) —
    * per-query widths, no widening loop. A gate value the counts never
    * saw, or a total eligible count below k, degrades to the exhaustive
    * scan (EXACTLY the filtered brute force); an absent or STALE sidecar
    * (appends since the last refresh) falls back to the [[Widening]]
    * plan — correctness never rides the sidecar, only the byte bound
    * does. Tombstones added since the refresh can make counts overcount;
    * the |Q|-row underfill backstop re-routes exactly those batches to
    * the widening plan. The counts describe the latest assignment, so a
    * pinned (`asOf`) arm refuses.
    */
  final case class Counted(gateCol: String, gateVal: Any) extends Gate

  /** Plan an ANN probe: one [[Retrieval.SemanticArm]] over a query batch
    * (id, vec), gated by `gate`. The planner keeps three parts apart:
    *
    *  - the probe WIDTH — the arm's fixed `nProbes` (probe selection is
    *    map-side: rank the centroid literal per query, slice, explode),
    *    the [[Widening]] loop, or the [[Counted]] one-shot prefix;
    *  - the BUCKET SCORER over only the probed buckets — float cosine
    *    `sim` ([[Retrieval.Ivf]]), the exact INTEGER SQ8 code dot `qdot`
    *    on the index's stored scale ([[Retrieval.Sq8]],
    *    [[graft.plans.IntDotProductExpr]] — bit-identical in any engine),
    *    or the PQ ADC score `pqdot` ([[Retrieval.Pq]]: a per-query lookup
    *    table over the codebook, plus the centroid base dot on a residual
    *    index);
    *  - the optional EXACT RE-RANK of a PQ arm with `alpha`: the ADC
    *    ranking shortlists k·alpha candidates per query and the exact
    *    `dot` re-scores only the shortlist from the index's own
    *    full-precision `vectors/` table (a broadcast equality join the
    *    shortlist DPP-prunes to its shard directories — re-rank bytes
    *    are bounded by the probed doc set, never the corpus). The
    *    shortlist stages through a constraint-free seam so the shard-range
    *    guard survives composition (SPARK-39748).
    *
    * Per-version constants — centroids, the SQ8 scale, the PQ codebook,
    * gate counts — are plan literals read once per version
    * ([[graft.sources.Versioned.rows]]), never a per-request scan or
    * broadcast. Latest reads refuse an out-of-lockstep index
    * ([[Retrieval.pinIndex]]); pending deletes gate the candidates before
    * scoring ([[Tombstones]] — the gate reads the LATEST tombstones even
    * under asOf: takedown is retroactive). With nProbes = nCentroids the
    * probe is exactly the arm's brute-force scan ([[bruteForceTopK]],
    * [[sq8TopK]], [[pqTopK]] — spec-proven). Output: (query_id, cand_id,
    * arm.score) top-k per query by (score desc, cand_id asc). A new
    * single-index vector probe is an arm and a gate planned here, never a
    * new `query*` function.
    */
  def probe(spark: SparkSession, arm: Retrieval.SemanticArm,
            queries: DataFrame, k: Int, gate: Gate = Ungated): DataFrame =
    planProbe(spark, arm, queries, k, gate, sorted = true)

  /** [[probe]]'s top-k per query, unsorted: what a fusion arm hands
    * [[Retrieval.rrfFuse]], which re-ranks per query anyway. */
  private[operators] def probeTop(spark: SparkSession,
                                  arm: Retrieval.SemanticArm,
                                  queries: DataFrame, k: Int,
                                  gate: Gate): DataFrame =
    planProbe(spark, arm, queries, k, gate, sorted = false)

  /** The float IVF preset of [[probe]] (signature frozen: `perfbench` and
    * the job-budget spec call it): identical output to the [[ivfTopK]]
    * call whose corpus/params built the index. */
  def queryIvfIndex(spark: SparkSession, indexDir: String,
                    queries: DataFrame, k: Int, nProbes: Int = 4,
                    asOf: Option[Long] = None): DataFrame =
    probe(spark, Retrieval.Ivf(indexDir, nProbes, asOf), queries, k)

  private def planProbe(spark: SparkSession, arm: Retrieval.SemanticArm,
                        queries: DataFrame, k: Int, gate: Gate,
                        sorted: Boolean): DataFrame = {
    val predicate = gate match {
      case Ungated => None
      case Where(p) => Some(p)
      case Widening(p) => Some(p)
      case Counted(c, v) =>
        require(arm.asOf.isEmpty, "a Counted gate sizes the probe from the " +
          "latest gatecounts sidecar, so it cannot pin asOf — use a " +
          "Widening gate for a pinned read")
        Some(col(c) === lit(v))
    }
    val assigned = pinnedAssignment(spark, arm.dir, arm.asOf)
    predicate.foreach(Retrieval.requirePredicate(arm.dir, "assignment",
      assigned, assignmentMetaCols(assigned), _))
    val eligible = predicate.map(assigned.filter).getOrElse(assigned)
    val cents = centroidArray(spark, arm.dir, arm.asOf, None)
    val (scored, stage) = bucketScorer(spark, arm, cents)
    val q = queryVecs(queries)
    def at(probes: DataFrame): DataFrame = {
      val top = arm match {
        case a @ Retrieval.Pq(_, Some(alpha), _, _, _, _, _, _) =>
          reranked(spark, a, queries, k,
            topBy(scored(q, probes, eligible), stage, k * alpha))
        case _ => topBy(scored(q, probes, eligible), stage, k)
      }
      if (sorted) top.orderBy(col("query_id"), col(arm.score).desc,
        col("cand_id"))
      else top
    }
    def fixed(p: Int) = at(probesOf(q, _.withColumn("cents", cents), p))
    def widened() = widen(queries, k, math.max(1, arm.nProbes),
      centRows(spark, arm.dir, arm.asOf).size, fixed)
    gate match {
      case Ungated | Where(_) => fixed(arm.nProbes)
      case Widening(_) => widened()
      case Counted(c, v) => gateCounts(spark, arm.dir, c, v) match {
        case None => widened()
        case Some(n) =>
          val r = at(countedProbesOf(q,
            centroidArray(spark, arm.dir, None, Some(n)), k))
            .localCheckpoint(eager = false) // shares the underfill check
          // an EXHAUSTIVE one-shot (total eligible ≤ k: the prefix took
          // every centroid) is already the filtered brute force; an
          // underfill otherwise means tombstones landed after the last
          // refresh — route those (rare) batches through the widening
          if (n.values.sum > k.toLong && underfilled(queries, r, k)) widened()
          else r
      }
    }
  }

  /** The pinned, tombstone-gated assignment of a persisted index: latest
    * reads REFUSE an out-of-lockstep index ([[Retrieval.pinIndex]]; a
    * build or append that crashed between its commits) — probing new
    * centroids against a stale assignment silently drops vectors. Pinned
    * `asOf` reads of intact historical versions keep working. Pending
    * deletes gate the candidate rows BEFORE scoring (survivors fill k);
    * chunk-grain indexes gate on the decoded doc id.
    */
  private def pinnedAssignment(spark: SparkSession, indexDir: String,
                               asOf: Option[Long]): DataFrame = {
    Retrieval.pinIndex(spark, indexDir, asOf): Unit
    Tombstones.gate(spark, indexDir,
      Versioned.read(spark, s"$indexDir/assignment", asOf),
      Retrieval.docKeyExpr(spark, indexDir, col("cand_id")))
  }

  /** The arm's bucket scorer — (queries, probes, eligible rows) →
    * (query_id, cand_id, score) over the probed buckets, self-matches
    * excluded — and its score column. The arm's per-version constants
    * (the SQ8 scale, the PQ codebook) are read here, once per request.
    */
  private def bucketScorer(spark: SparkSession, arm: Retrieval.SemanticArm,
                           cents: Column)
      : ((DataFrame, DataFrame, DataFrame) => DataFrame, String) = arm match {
    case _: Retrieval.Ivf => ((_, probes, rows) => cosineScored(probes, rows),
      "sim")
    case a: Retrieval.Sq8 =>
      val scale = lit(sq8ScaleOf(spark, a))
      ((q, probes, rows) => {
        val qq = q.select(col("query_id"), sq8Code(col("qv"), scale).as("qq"))
          .join(probes.select(col("query_id"), col("centroid_id")),
            Seq("query_id"))
        rows.join(broadcast(qq), Seq("centroid_id"))
          .filter(col("cand_id") =!= col("query_id"))
          .withColumn("qdot", VectorOps.dotInt(col("qq"), col("cq")))
          .select(col("query_id"), col("cand_id"), col("qdot"))
      }, "qdot")
    case a: Retrieval.Pq =>
      require(a.dim % a.m == 0,
        s"dim ${a.dim} must split evenly into ${a.m} subspaces")
      a.alpha.foreach(alpha =>
        require(alpha >= 1, s"alpha must be >= 1, got $alpha"))
      require(a.alpha.isEmpty || Versioned.exists(spark, s"${a.dir}/vectors"),
        s"${a.dir} has no vectors table — the exact re-rank serves the " +
          "shortlist from the index's own full-precision snapshot; rebuild " +
          "this (pre-vectors) index with Index.build")
      val cbs = codebookArray(spark, a)
      // residual ADC: score(q, x) ≈ dot(q, c) + dot(q, x − c hat) — the
      // centroid base dot is ONE extra term per (query, probe), off the
      // centroid literal; raw mode scores from the LUT alone
      val cdot =
        if (!a.residual) lit(0.0)
        else VectorOps.dot(col("qv"), element_at(filter(cents,
          ct => ct("centroid_id") === col("centroid_id")), 1)("centv"))
      ((q, probes, rows) => {
        val qlut = withPqLut(q.select(col("query_id"), col("qv")), cbs, a.m,
            a.dim / a.m, a.ks)
          .select(col("query_id"), col("lut"))
          .join(probes.select(col("query_id"), col("centroid_id"),
            cdot.as("cdot")), Seq("query_id"))
        rows.join(broadcast(qlut), Seq("centroid_id"))
          .filter(col("cand_id") =!= col("query_id"))
          .withColumn("pqdot",
            if (a.residual) col("cdot") + pqScore(col("pqcode"), col("lut"))
            else pqScore(col("pqcode"), col("lut")))
          .select(col("query_id"), col("cand_id"), col("pqdot"))
      }, "pqdot")
  }

  /** Float cosine over the probed buckets: (query_id, cand_id, sim). */
  private def cosineScored(probes: DataFrame, rows: DataFrame): DataFrame =
    rows.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("sim", VectorOps.cosineWithNorms(
        col("qv"), col("cv"), col("q_norm_sq"), col("c_norm_sq")))
      .select(col("query_id"), col("cand_id"), col("sim"))

  /** Top-k per query by (`score` desc, cand_id asc), unsorted. */
  private def topBy(scored: DataFrame, score: String, k: Int): DataFrame =
    Ranking.topPerGroup(scored, Seq(col("query_id")),
        Seq(col(score).desc, col("cand_id").asc), k)
      .select(col("query_id"), col("cand_id"), col(score))

  /** The exact re-rank of a PQ shortlist: full-precision dots from the
    * index's own vectors table ([[vectorsFor]]), top-k per query. */
  private def reranked(spark: SparkSession, arm: Retrieval.Pq,
                       queries: DataFrame, k: Int,
                       short: DataFrame): DataFrame = {
    val shortlist = Retrieval.constraintFreeStage(
      short.select(col("query_id"), col("cand_id")))
    topBy(vectorsFor(spark, arm.dir, shortlist, arm.asOf)
      .join(broadcast(shortlist), Seq("cand_id"))
      .join(broadcast(queryVecs(queries)), Seq("query_id"))
      .withColumn("dot", VectorOps.dot(col("qv"), col("cv"))), "dot", k)
  }

  /** The SQ8 index's one global quantization scale, stored on every
    * centroid row. */
  private def sq8ScaleOf(spark: SparkSession, arm: Retrieval.Sq8): Double = {
    val t = s"${arm.dir}/centroids"
    require(Versioned.read(spark, t, arm.asOf).columns.contains("s"),
      s"${arm.dir} is not an SQ8 index (its centroids carry no " +
        "quantization scale) — build it with an Index.Sq8Spec")
    Versioned.rows(spark, t, arm.asOf, Seq("s")).head.getDouble(0)
  }

  /** The PQ codebook as the [[pqCbNested]] value — cbs[j+1] = subspace
    * j's (code, cb) entries sorted by code — planned as a literal, with
    * the [[pqGuard]] and residual-flag checks on the collected rows: a
    * probe with the wrong m would slice wrong, and residual codes scored
    * without the centroid base term (or raw codes with it) would be
    * silently wrong by roughly one centroid dot.
    */
  private def codebookArray(spark: SparkSession, arm: Retrieval.Pq): Column = {
    val t = s"${arm.dir}/codebook"
    val schema = Versioned.read(spark, t, arm.asOf).schema
    val hasRes = schema.fieldNames.contains("res")
    // a codebook persisted before the residual flag existed was always
    // raw-encoded
    require(hasRes || !arm.residual, "this codebook predates residual " +
      "encoding (no 'res' column): it was built raw — query/append with " +
      "residual=false, or rebuild the index to use by_residual")
    val rows = Versioned.rows(spark, t, arm.asOf,
      Seq("j", "code", "cb") ++ (if (hasRes) Seq("res") else Nil))
    require(!hasRes || rows.forall(_.getBoolean(3) == arm.residual),
      s"PQ codebook residual flag != caller's residual = ${arm.residual}")
    def num(r: Row, i: Int) = r.get(i).asInstanceOf[Number].longValue
    val cbs = rows.groupBy(num(_, 0)).toSeq.sortBy(_._1).map(_._2
      .sortBy(num(_, 1)).map(r => Row(r.get(1), r.get(2))))
    require(cbs.size == arm.m,
      s"PQ codebook subspace count != caller's m = ${arm.m}")
    literal(ArrayType(ArrayType(
      StructType(Seq(schema("code"), schema("cb"))))), cbs)
  }

  /** The gatecounts sidecar's eligible count per centroid for `gateCol =
    * gateVal` (a gate value's string form, as the sidecar stores it), or
    * None when the sidecar is absent or STALE (its `src_v` is not the
    * latest assignment version). Read once per sidecar version. */
  private def gateCounts(spark: SparkSession, indexDir: String,
                         gateCol: String,
                         gateVal: Any): Option[Map[Any, Long]] = {
    val t = s"$indexDir/gatecounts"
    if (!Versioned.exists(spark, t)) return None
    val rows = Versioned.rows(spark, t, None,
      Seq("gate_col", "gate_val", "centroid_id", "n", "src_v"))
    val latest = Versioned.latestVersion(spark, s"$indexDir/assignment")
    if (rows.isEmpty || rows.map(_.getLong(4)).max != latest) None
    else Some(rows.filter(r => r.getString(0) == gateCol &&
        r.getString(1) == String.valueOf(gateVal))
      .map(r => r.get(2) -> r.getLong(3)).toMap)
  }

  /** The one-round counted probe width: rank centroids per query, cut
    * the prefix at cumulative eligible count ≥ k+1 (an ordered left fold
    * over the centroid literal — the lambda binds everything it
    * dereferences), explode to per-query probe sets.
    */
  private def countedProbesOf(q: DataFrame, centsN: Column,
                              k: Int): DataFrame = {
    val scoredN = transform(col("cents"), ct => struct(
      coalesce(VectorOps.cosineWithNorms(col("qv"), ct("centv"),
        col("q_norm_sq"), ct("cent_norm_sq")),
        lit(Double.NegativeInfinity)).as("sim"),
      ct("centroid_id").as("centroid_id"),
      ct("n").as("n")))
    val emptyIds = typedLit(Seq.empty[Long])
    q.withColumn("cents", centsN)
      .withColumn("__probe_ids", aggregate(
        array_sort(scoredN, bySimDescIdAsc),
        struct(lit(0L).as("cum"), emptyIds.as("ids")),
        // target k+1, not k: a query that is itself an eligible corpus
        // member is counted by the sidecar but excluded from scoring
        // (cand_id <> query_id), so a bare-k prefix underfills by one
        // exactly when the query's own row sits in the probed buckets
        (acc, x) => when(acc("cum") >= k + 1, acc)
          .otherwise(struct((acc("cum") + x("n")).as("cum"),
            concat(acc("ids"), array(x("centroid_id"))).as("ids"))),
        acc => acc("ids")))
      .select(col("query_id"), explode(col("__probe_ids")).as("centroid_id"),
        col("qv"), col("q_norm_sq"))
  }

  /** The escalation loop: run the probe at width p, return when every
    * query has k rows or the scan is exhaustive; else double. The
    * result stages through a lazy localCheckpoint so the underfill
    * check and the returned rows share one computation.
    */
  private def widen(queries: DataFrame, k: Int, startProbes: Int,
                    nCent: Int, probe: Int => DataFrame): DataFrame = {
    var p = math.min(startProbes, math.max(1, nCent))
    while (true) {
      val r = probe(p).localCheckpoint(eager = false)
      if (p >= nCent || !underfilled(queries, r, k)) return r
      p = math.min(nCent, p * 2)
    }
    sys.error("unreachable")
  }

  /** True when some query of the batch has fewer than k rows in `r`.
    * Detection joins from the QUERY side: a query with ZERO eligible
    * probed candidates has no result group at all — a result-side
    * group-count would miss it exactly where escalation matters most.
    */
  private def underfilled(queries: DataFrame, r: DataFrame, k: Int): Boolean =
    !queries.select(col("id").as("query_id")).distinct()
      .join(r.groupBy(col("query_id")).agg(count(lit(1)).as("__n")),
        Seq("query_id"), "left")
      .filter(coalesce(col("__n"), lit(0L)) < k)
      .isEmpty

  // --------------------------------------------- gate-count sidecar
  //
  // The one-shot alternative to [[Widening]]'s geometric re-scan
  // for CATEGORICAL gates (the ACORN-style selectivity statistic): a
  // per-(gate column, value, centroid) eligible-candidate count table
  // beside the index, consulted at probe time to pick each query's
  // probe width in ONE round — the widening loop's re-scans (bounded
  // ≤2× final-round bytes, plus one driver round-trip per doubling)
  // collapse to the final round alone.

  /** A float IVF index together with its `gatecounts` sidecar table
    * ([[refreshGateCounts]] commits it after the index, at the index's
    * version) — what a counted-gate artifact is intact only with. */
  val GateCounted: Versioned.Artifact = Index.Ivf.artifact.copy(
    name = "IVF + gatecounts", tables = Index.Ivf.artifact.tables :+ "gatecounts")

  /** Derive and commit the `gatecounts` sidecar table from the CURRENT
    * assignment: (gate_col, gate_val, centroid_id, n) per categorical
    * gate value, tombstone-gated so the counts reflect what a probe
    * can actually return, stamped with the assignment version they
    * describe (`src_v` — the staleness check readers apply). Called at
    * build cadence by the operator owner; [[Index.append]] merges
    * batches additively, [[Index.compact]]/retrain
    * re-derive. Counts are (nCentroids × gate cardinality) rows —
    * broadcast-sized by the categorical-gate contract.
    */
  def refreshGateCounts(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, gateCols: Seq[String]): Long = {
    require(gateCols.nonEmpty, "at least one gate column")
    val va = graft.sources.Versioned.latestVersion(spark,
      s"$indexDir/assignment")
    val asg = Tombstones.gate(spark, indexDir,
      graft.sources.Versioned.read(spark, s"$indexDir/assignment"),
      Retrieval.docKeyExpr(spark, indexDir, col("cand_id")))
    val meta = assignmentMetaCols(asg)
    val missing = gateCols.filterNot(meta.contains)
    require(missing.isEmpty, s"$indexDir assignment does not carry " +
      s"gate column(s) ${missing.mkString(", ")} — bake them at build " +
      s"(metaCols); available: ${meta.mkString(", ")}")
    graft.sources.Versioned.overwrite(
      gateCountsOf(asg, gateCols).withColumn("src_v", lit(va)),
      s"$indexDir/gatecounts")
  }

  private def gateCountsOf(rows: DataFrame,
                           gateCols: Seq[String]): DataFrame =
    gateCols.map(g => rows
        .groupBy(col("centroid_id"), col(g).cast("string").as("gate_val"))
        .agg(count(lit(1)).as("n"))
        .select(lit(g).as("gate_col"), col("gate_val"),
          col("centroid_id"), col("n")))
      .reduce(_ unionByName _)

  /** Re-derive the gatecounts sidecar over the columns it already
    * tracks — the compact/rebuild-cadence heal (also repairs a sidecar
    * gone stale after a crashed append). No-op without a sidecar.
    */
  private[operators] def refreshGateCountsIfPresent(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val t = s"$indexDir/gatecounts"
    if (!graft.sources.Versioned.exists(spark, t)) return
    val gcols = graft.sources.Versioned.read(spark, t)
      .select(col("gate_col")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded: few gate columns
    if (gcols.nonEmpty) refreshGateCounts(spark, indexDir, gcols): Unit
  }

  /** Fold an appended batch's counts into a FRESH gatecounts sidecar
    * (src_v = the pre-append assignment version); a stale sidecar is
    * left stale — probes degrade to the adaptive path (correct,
    * slower) and the compact/rebuild cadence re-derives. Crash between
    * the assignment append and this overwrite = exactly that stale
    * shape. No-op when the index has no sidecar.
    */
  private def maintainGateCountsAfterAppend(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batchAssigned: DataFrame, vaPrev: Long, vaNew: Long): Unit = {
    val t = s"$indexDir/gatecounts"
    if (!graft.sources.Versioned.exists(spark, t)) return
    val cur = graft.sources.Versioned.read(spark, t)
    // 1-row control read (bounded: the sidecar is broadcast-sized)
    val srcV = cur.select(max(col("src_v"))).head.getLong(0)
    if (srcV != vaPrev) return // stale — heal at compact/rebuild
    val gateCols = cur.select(col("gate_col")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded: few gate columns
    val merged = cur.drop("src_v")
      .unionByName(gateCountsOf(batchAssigned, gateCols))
      .groupBy(col("gate_col"), col("gate_val"), col("centroid_id"))
      .agg(sum(col("n")).as("n"))
      .withColumn("src_v", lit(vaNew))
    graft.sources.Versioned.overwrite(merged, t): Unit
  }

  /** Build an IVF index whose buckets store SQ8 CODES instead of float
    * vectors — the two ANN scale levers combined: probes prune the scan
    * to nProbes/nCentroids of the corpus (IVF) and the pruned scan
    * streams byte-width integer codes (SQ8's 4–8× bandwidth cut), so a
    * probe moves ~nProbes/nCentroids ÷ 4 of the float-index bytes.
    * Centroids stay full-precision (probe selection quality is the
    * recall dial; their size is nCentroids rows — irrelevant), and each
    * centroid row carries the ONE global quantization scale (max |x|
    * over the corpus, the ranking-preserving shared scale q109 uses).
    * Assignment runs in full precision BEFORE quantization, so bucket
    * membership is identical to [[ivfBuild]]'s.
    */
  private[operators] def sq8Build(candidates: DataFrame, indexDir: String,
                                  spec: Index.Sq8Spec): Long = {
    val c = prepCandidates(candidates)
    val (centroids, assigned) =
      centroidsAndAssignment(c, spec.nCentroids, spec.lloydIters)
    val scale = sq8Scale(c.select(col("cv").as("v")))
    val codes = sq8Apply(c.select(col("cand_id"), col("cv").as("v")), scale)
    val assignedQ = assigned.select(col("centroid_id"), col("cand_id"))
      .join(codes, Seq("cand_id"))
      .select(col("centroid_id"), col("cand_id"), col("q").as("cq"))
    Versioned.overwrite(centroids.crossJoin(broadcast(scale)),
      s"$indexDir/centroids"): Unit
    commitAssignment(assignedQ, s"$indexDir/assignment", spec.layout,
      spec.nBuckets)
  }

  /** Global quantization scale of a corpus: max |component| across
    * every vector — ONE broadcast scalar. The scale is deliberately
    * global, not per-dimension: a shared scale multiplies every code
    * dot by the same constant, so the quantized ranking tracks the
    * exact dot ranking up to rounding noise. A per-dimension grid
    * (the first cut here) reweights each dimension by 1/range² and
    * DESTROYS the ranking — measured recall 0.06 vs 1.0.
    */
  private def sq8Scale(base: DataFrame): DataFrame = base
    .select(explode(col("v")).as("x"))
    .agg(max(abs(col("x"))).as("s"))

  /** Quantize `v` on the shared scale: q_i = round(x_i/s·127) ∈
    * [−127, 127] as INT — byte-width codes, the 4–8× storage/bandwidth
    * cut that keeps a brute-force scan viable at 100 TB. An all-zero
    * corpus (s = 0) quantizes to all-zero codes, not NaNs.
    */
  private def sq8Apply(base: DataFrame, scale: DataFrame): DataFrame = base
    .crossJoin(broadcast(scale))
    .withColumn("q", sq8Code(col("v"), col("s")))
    .drop("v", "s")

  /** The [[sq8Apply]] codes of vector `v` on scale `s`. */
  private def sq8Code(v: Column, s: Column): Column =
    transform(v, x => when(s === 0.0, lit(0))
      .otherwise(round(x / s * 127).cast("int")))

  // -------------------------------------------------------------------
  // Product quantization (PQ) — the third compression tier.
  // SQ8 cuts the scan to 1 byte/dimension; PQ cuts it to m CODES for
  // the whole vector (64 float32 dims = 256 B → m = 8 codes ≈ 8 B, a
  // ~32× reduction): the vector space is split into m subspaces, each
  // quantized against its own ks-entry codebook, and a vector is stored
  // as its m nearest-codebook-entry indices. Scoring is ADC
  // (asymmetric distance computation, Jégou et al. 2011): the QUERY
  // stays full-precision, a per-query lookup table holds
  // dot(query_subvector, codebook_entry) for all m·ks entries, and a
  // candidate's score is m table lookups + adds — no per-pair float
  // math at all. At 100 TB this is the difference between scanning the
  // corpus and scanning 3% of its bytes with ~1/8 the multiplies.
  //
  // Everything is deterministic and cross-engine reproducible, same
  // contract as IVF/SQ8: seeds are the md5-sampled corpus rows (code =
  // rank in the sample order), Lloyd refinement per subspace runs its
  // per-dimension means in DECIMAL(27,10), nearest-entry assignment
  // breaks L2 ties toward the smaller code, and every float fold (L2
  // distances, LUT dots, the final m-term score sum) is a sequential
  // in-order left fold — so the whole PQ ranking hash-matches in SQL.
  // -------------------------------------------------------------------

  /** In-order squared-L2 fold — same sequential accumulation DuckDB's
    * `list_sum(list_transform(...))` uses, so distances (and therefore
    * tie-broken assignments) are bit-identical cross-engine.
    */
  private def pqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Comparator = distance ASC, code ASC — deterministic assignment
    * under exact-tie subvectors.
    */
  private val byDistAscCodeAsc = (l: Column, r: Column) =>
    when(l("d") < r("d"), lit(-1)).when(l("d") > r("d"), lit(1))
      .when(l("code") < r("code"), lit(-1))
      .when(l("code") > r("code"), lit(1)).otherwise(lit(0))

  /** Train the PQ codebook: (j, code, cb) rows — subspace j ∈ [0, m),
    * code ∈ [0, ks), cb = the `sub`-dim codebook entry. Seeds are the
    * ks smallest-md5-key corpus rows (code = rank in that order, the
    * same deterministic sample family as IVF seeds), sliced into their
    * m subvectors. Each Lloyd pass reassigns every corpus subvector to
    * its nearest entry and replaces entries by DECIMAL-exact
    * per-dimension means; empty cells drop identically in any engine.
    */
  private def pqCodebook(c: DataFrame, m: Int, sub: Int, ks: Int,
                         lloydIters: Int): DataFrame = {
    val sampleKey =
      conv(substring(md5(col("cand_id").cast("string")), 1, 8), 16, 10).cast("long")
    // BOUNDED single-partition window: the input is limit(ks) rows
    // (the codebook seed sample, a small constant). The
    // [[BoundedWindow]] key keeps the identical global rank while
    // stating the bound (and keeping WindowExec's corpus-scale
    // warning meaningful elsewhere).
    val seeds = c.orderBy(sampleKey.asc, col("cand_id").asc).limit(ks)
      .withColumn("code",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(BoundedWindow.key(col("cand_id")))
          .orderBy(sampleKey.asc, col("cand_id").asc)) - 1)
    val seedCb = seeds
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .select(col("j"), col("code"),
        slice(col("cv"), col("j") * sub + 1, lit(sub)).as("cb"))
    (1 to lloydIters).foldLeft(seedCb) { (cb, _) =>
      withPqCodes(c, cb, m, sub)
        .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
        .select(col("j"), element_at(col("pqcode"), col("j") + 1).as("code"),
          posexplode(element_at(col("subs"), col("j") + 1)))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(sum(col("col").cast("decimal(27,10)")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("j"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"),
            (col("s").cast("double") / col("n")).as("m")))),
          x => x("m")).as("cb"))
    }
  }

  /** Codebook as ONE row: cbs[j+1] = the subspace-j entries as an array
    * of (code, cb) structs sorted by code — broadcast onto the corpus
    * so encoding is a per-row zip over subspaces, zero shuffles (the
    * centArray discipline applied to the codebook).
    */
  private def pqCbNested(cb: DataFrame): DataFrame = cb
    .groupBy(col("j"))
    .agg(array_sort(collect_list(struct(col("code"), col("cb")))).as("ent"))
    .agg(transform(array_sort(collect_list(struct(col("j"), col("ent")))),
      x => x("ent")).as("cbs"))

  /** Guard: the broadcast codebook must carry exactly the m subspaces
    * the caller's slice arithmetic assumes — a PQ index probed with the
    * wrong m would silently slice wrong, so it fails loudly in-plan
    * instead (the nbScore bucket-recovery discipline).
    */
  private def pqGuard(df: DataFrame, m: Int): DataFrame = df
    .filter(assert_true(size(col("cbs")) === m,
      lit(s"PQ codebook subspace count != caller's m = $m")).isNull)

  /** Residual vectors: cand − its assigned centroid, the relation a
    * residual codebook trains on and encodes (FAISS-IVFPQ's
    * `by_residual`). Centroids broadcast; the subtraction is map-side.
    */
  private def residualsOf(assigned: DataFrame, centroids: DataFrame): DataFrame =
    assigned.join(broadcast(centroids), Seq("centroid_id"))
      .select(col("centroid_id"), col("cand_id"),
        zip_with(col("cv"), col("centv"), (x, c) => x - c).as("cv"))

  /** Encode: attach `subs` (the row's m subvectors) and `pqcode` (the m
    * nearest-entry codes, L2 ties → smaller code) — one map-side pass
    * against the broadcast codebook. The lambda chain binds everything
    * it dereferences (subs/cbs zip per subspace, entries per code), so
    * nothing re-evaluates per array element.
    */
  private def withPqCodes(c: DataFrame, cb: DataFrame, m: Int, sub: Int): DataFrame =
    pqGuard(c.join(broadcast(pqCbNested(cb)), lit(true)), m)
      .withColumn("subs", transform(sequence(lit(0), lit(m - 1)), j =>
        slice(col("cv"), j * sub + 1, lit(sub))))
      .withColumn("pqcode", zip_with(col("subs"), col("cbs"), (xj, ent) =>
        element_at(array_sort(transform(ent, e =>
          struct(pqL2(xj, e("cb")).as("d"), e("code").as("code"))),
          byDistAscCodeAsc), 1)("code")))

  /** Per-query ADC lookup table: lut[j+1][code+1] =
    * dot(query_subvector_j, codebook[j][code]) — m·ks dots computed
    * ONCE per query (missing codes → null, never referenced: no vector
    * encodes to a dropped cell). Scoring a candidate is then m lookups.
    */
  private def withPqLut(q: DataFrame, cbs: Column, m: Int, sub: Int,
                        ks: Int): DataFrame =
    q.withColumn("qsubs", transform(sequence(lit(0), lit(m - 1)), j =>
        slice(col("qv"), j * sub + 1, lit(sub))))
      .withColumn("lut", zip_with(col("qsubs"), cbs, (qj, ent) =>
        transform(sequence(lit(0), lit(ks - 1)), i =>
          // get() (0-based) is null on an empty cell in BOTH ANSI
          // modes — element_at threw under ANSI when a Lloyd pass
          // starved a cell (residual codebooks concentrate near zero,
          // so dropped cells are the NORM there, not a corner case)
          get(transform(filter(ent, e => e("code") === i),
            e => VectorOps.dot(qj, e("cb"))), lit(0)))))
      .drop("cbs", "qsubs")

  /** ADC score: the m LUT lookups summed in subspace order (in-order
    * left fold — cross-engine exact given identical LUT doubles).
    */
  private def pqScore(code: Column, lut: Column): Column =
    aggregate(zip_with(code, lut, (cd, lj) => element_at(lj, cd + 1)),
      lit(0.0), (acc, v) => acc + v)

  /** PQ brute-force top-k — the compressed-scan path one tier beyond
    * [[sq8TopK]]: the codebook trains on the candidate corpus, the scan
    * streams m-code rows (~32× smaller than float32 vectors), and
    * ranking is ADC dot (score DESC, cand_id ASC). Output:
    * (query_id, cand_id, pqdot). Approximation error is the PQ
    * reconstruction error; when every candidate IS a codebook entry
    * (corpus ≤ ks) the score equals the exact dot (spec-proven).
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
             m: Int = 8, ks: Int = 16, lloydIters: Int = 0,
             dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    val c = prepCandidates(candidates)
    val cb = pqCodebook(c, m, sub, ks, lloydIters)
    val codes = withPqCodes(c, cb, m, sub).select(col("cand_id"), col("pqcode"))
    val q = queries.select(col("id").as("query_id"),
      VectorOps.toDoubleArray(col("vec")).as("qv"))
    val qlut = withPqLut(pqGuard(q.join(broadcast(pqCbNested(cb)), lit(true)),
      m), col("cbs"), m, sub, ks).select(col("query_id"), col("lut"))
    val scored = codes.join(broadcast(qlut), lit(true))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("pqdot", pqScore(col("pqcode"), col("lut")))
    topBy(scored, "pqdot", k)
      .orderBy(col("query_id"), col("pqdot").desc, col("cand_id"))
  }

  /** Build a persisted IVF-PQ index — the full FAISS-IVFPQ production
    * shape, both scale levers at their strongest: probes prune the scan
    * to nProbes/nCentroids of the corpus (IVF) AND the pruned buckets
    * stream m-code rows (PQ's ~32× cut), so a probe moves
    * ~nProbes/nCentroids ÷ 32 of the float-index bytes. THREE Versioned
    * tables in lockstep (`centroids/`, `codebook/`, `assignment/`):
    * IVF centroids stay full-precision (probe quality), the codebook is
    * m·ks tiny rows, and the assignment stores (centroid_id, cand_id,
    * pqcode). Bucket membership is assigned in full precision BEFORE
    * quantization, identical to [[ivfBuild]]'s.
    *
    * A FOURTH lockstep table, `vectors/`, persists the full-precision
    * vectors the build already computed to encode the codes —
    * cand_id-sharded directories (`vec_part = pmod(cand_id,
    * nVecParts)`, the forward-index discipline, modulus in a stamped
    * `vec_parts` sidecar) so the exact re-rank
    * (a [[Retrieval.Pq]] arm with `alpha`) DPP-fetches its |Q|·k·alpha
    * shortlist instead of scanning (or worse, recomputing) the
    * full-precision corpus per serving batch — at 100 TB the re-rank
    * fetch was the last corpus-sized read on the serving path, and with
    * a real neural encoder an in-plan re-embed is not merely slow but
    * impossible. The table also removes the caller-supplied-corpus
    * staleness hazard: the index serves re-ranks from its OWN snapshot,
    * in version lockstep by construction. `nVecParts = 0` auto-sizes
    * the modulus from the corpus row count (target: a few thousand
    * rows — a couple of row-groups — per shard directory, so probed
    * bytes stay flat as the corpus grows).
    */
  private[operators] def pqBuild(candidates: DataFrame, indexDir: String,
                                 spec: Index.PqSpec): Long = {
    import spec._
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    val c = prepCandidates(candidates)
    val (centroids, assigned) = centroidsAndAssignment(c, nCentroids, lloydIters)
    // residual=true is FAISS-IVFPQ's by_residual: the codebook trains on
    // (cand − assigned centroid) and codes store the residual, so the
    // quantizer spends its ks cells on the WITHIN-bucket spread instead
    // of re-describing bucket placement — markedly better reconstruction
    // on clustered corpora at identical code bytes. Scoring adds the
    // centroid base dot per probe (see bucketScorer). The flag is
    // persisted on every codebook row and guarded at query/append time.
    val encBase = if (residual) residualsOf(assigned, centroids) else c
    val cb = pqCodebook(encBase, m, sub, ks, pqLloydIters)
      .withColumn("res", lit(residual))
    val codes = withPqCodes(encBase, cb, m, sub).select(col("cand_id"), col("pqcode"))
    // metadata gates ride BOTH the code rows (the filtered-probe scan)
    // and the vectors table (so the crashed-append repair, which
    // re-derives the batch from the orphan vectors slice, can restore
    // them — meta that lived only in the crashed caller would be gone)
    val assignedQ = withMeta(
      assigned.select(col("centroid_id"), col("cand_id"))
        .join(codes, Seq("cand_id"))
        .select(col("centroid_id"), col("cand_id"), col("pqcode")),
      candidates, metaCols)
    // the full-precision table lands FIRST (the postings-first
    // discipline: a crash after it leaves the raw data on disk, from
    // which annRepair COMPLETES the operation)
    val nVec = if (nVecParts > 0) nVecParts else autoVecShards(c.count())
    val vv = Versioned.overwritePartitioned(
      withMeta(c.select(col("cand_id"), col("cv")), candidates, metaCols)
        .withColumn("vec_part", pmod(col("cand_id"), lit(nVec.toLong))),
      s"$indexDir/vectors", "vec_part")
    Versioned.overwrite(centroids, s"$indexDir/centroids"): Unit
    Versioned.overwrite(cb, s"$indexDir/codebook"): Unit
    val va = commitAssignment(assignedQ, s"$indexDir/assignment", layout,
      nBuckets)
    Stamp.write(candidates.sparkSession, indexDir, Stamp.VecParts, nVec, vv)
    va
  }

  /** Auto-sized vec_part modulus: ~128 vectors (~64 KB of float64 at
    * dim 64) per shard directory, capped at 4096 directories (past the
    * cap shards fatten with the corpus and a probe still reads ≤
    * |shortlist|/4096 of it). The shard count must OUTNUMBER a serving
    * batch's |Q|·k·alpha shortlist for the probe to prune — with
    * count-proportional shards the probed bytes are bounded by
    * |shortlist| × shardBytes, flat in the corpus. Sized at BUILD time
    * from the actual corpus; [[annCompact]] re-derives it when
    * appends have outgrown the layout.
    */
  private[operators] def autoVecShards(count: Long): Int =
    math.max(4L, math.min(4096L, (count + 127L) / 128L)).toInt

  /** Full-precision rows for a bounded candidate set — the
    * [[Retrieval.forwardFor]] discipline on the vectors table: the
    * set's distinct cand_ids broadcast ONTO the partitioned scan, and
    * on a trusted vec_parts sidecar the join carries the shard key
    * (with the in-range guard PartitionPruning needs as its selective
    * predicate) so Spark DPP prunes unprobed shard DIRECTORIES at run
    * time. An untrusted sidecar or a time-travel read degrades to the
    * unpruned-but-correct cand_id join.
    */
  private def vectorsFor(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, candSet: DataFrame,
                         asOf: Option[Long]): DataFrame = {
    val vt = graft.sources.Versioned.read(spark, s"$indexDir/vectors", asOf)
    val ids = candSet.select(col("cand_id")).distinct()
    Stamp.read(spark, indexDir, Stamp.VecParts, asOf) match {
      case Some(n) =>
        val probe = ids
          .withColumn("vec_part", pmod(col("cand_id"), lit(n.toLong)))
          .filter(col("vec_part").between(0, n - 1))
        vt.select(col("vec_part"), col("cand_id"), col("cv"))
          .join(broadcast(probe), Seq("vec_part", "cand_id"))
          .drop("vec_part")
      case None =>
        vt.select(col("cand_id"), col("cv"))
          .join(broadcast(ids), Seq("cand_id"))
    }
  }

  /** SQ8-quantized brute-force top-k — the compressed-scan ANN path:
    * both sides quantize on the CANDIDATE corpus's global scale, and
    * ranking runs on the INTEGER dot product of the codes (|qdot| ≤
    * 127²·dims ≈ 1.0M per pair — exact in double, so the score is
    * bit-identical in any engine, unlike float cosines). Same
    * broadcast-queries × stream-corpus shape as [[bruteForceTopK]],
    * but the streamed payload is byte-width codes, not float32s.
    * Output: query_id, cand_id, qdot (BIGINT).
    */
  def sq8TopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val cb = candidates.select(col("id").as("cand_id"),
      VectorOps.toDoubleArray(col("vec")).as("v"))
    val qb = queries.select(col("id").as("query_id"),
      VectorOps.toDoubleArray(col("vec")).as("v"))
    val ranges = sq8Scale(cb)
    val cq = sq8Apply(cb, ranges).withColumnRenamed("q", "cq")
    val qq = sq8Apply(qb, ranges).withColumnRenamed("q", "qq")
    // scoring stays INTEGER end-to-end (IntDotProductExpr): codes are
    // never widened back to double arrays per pair, so the compressed
    // scan keeps its bandwidth AND compute win
    val scored = cq.join(broadcast(qq), lit(true))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("qdot", VectorOps.dotInt(col("qq"), col("cq")))
    topBy(scored, "qdot", k)
      .orderBy(col("query_id"), col("qdot").desc, col("cand_id"))
  }
}
