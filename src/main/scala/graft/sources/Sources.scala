package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.operators.Stage

/** Source connectors (SURVEY.md §2.1). Every reader takes a DECLARED
  * schema — never `inferSchema` (the reference's inference over
  * one-record-per-object JSON is an extra full pass, README.md:344-348).
  */
object Sources {

  /** S2 — JSON directory scan with declared schema, parsed ONCE per
    * read: the scan is staged through [[graft.operators.Stage.staged]],
    * so the first action that consumes the returned DataFrame parses the
    * text into staged rows, and every later result built on the same
    * DataFrame (the batch job's six query results, its cleaned tables)
    * reads those rows instead of re-parsing the files. A bare file scan
    * has no shuffle or broadcast, so staging it runs no job at the call.
    *
    * Snapshot semantics: the call lists the directory's files; the first
    * action parses all of them. Files added after the call, and files
    * rewritten or removed after that action, do not change later results
    * from this DataFrame. A NEW call is a fresh read — it lists and
    * parses again, so it sees them. Nothing is cached across calls.
    */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    Stage.staged(spark.read.schema(schema).json(path))

  /** S2 — JSON scan with INFERRED schema, the explicit opt-in the
    * reference defaults to (reference README.md:344-348): inference is
    * an extra full pass over the data and guesses types, so it is the
    * exploration affordance, never the production path — production
    * jobs declare their schema ([[json]] above). Kept as a separate
    * overload so the cost is visible at the call site. (No option is
    * needed: `spark.read.json` with no schema ALWAYS infers —
    * `inferSchema` is a CSV-reader option, not a JSON one.)
    */
  def jsonInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S9 — Parquet scan (schema from footer). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV scan with DECLARED schema (same no-inference rule as JSON: an
    * inference pass over CSV is a full extra read and guesses types).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  /** ORC scan (schema from file metadata, like parquet). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S1 — JDBC scan (optional source; no database ships in this
    * environment, so this is the connector surface only). Credentials
    * come from caller-supplied options, never source constants
    * (SURVEY.md security note).
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           options: Map[String, String]): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).load()

  /** JSON scan that QUARANTINES malformed records instead of dropping
    * them: parseable rows populate the declared fields, unparseable
    * lines land whole in `corruptCol` with every declared field null.
    * The ingest contract at scale — bad records are data to audit
    * (count, sample, route to a dead-letter sink), never a silent loss
    * or a job abort. (PERMISSIVE is Spark's default mode; this helper
    * pins the corrupt-record column into the declared schema so the
    * quarantine is part of the contract, not an implicit.)
    */
  def jsonWithCorrupt(spark: SparkSession, path: String, schema: StructType,
                      corruptCol: String = "_corrupt_record"): DataFrame =
    spark.read
      .schema(schema.add(corruptCol, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)

  /** Parquet scan across files with EVOLVED schemas: later files may
    * add columns; rows from older files surface the new columns as
    * null. The footer-merge pass costs one metadata read per file —
    * acceptable per-partition, which is why production tables carry the
    * merged schema in a catalog instead of re-deriving it per scan.
    */
  def parquetMergeSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Binary-file ingestion — the multimodal LANDING ZONE read: every
    * matching file becomes ONE row of Spark's built-in `binaryFile`
    * schema (path, modificationTime, length, content). This is how raw
    * image/audio payloads ENTER the engine at 100 TB: scan the landing
    * directory once, decode/validate with [[graft.operators.Multimodal]]
    * (corrupt payloads quarantine, never abort), and compact into
    * parquet with a `binary` column — after which every query reads the
    * columnar table and the million-small-files problem is confined to
    * the ingest job. binaryFile never splits a file (parallelism = file
    * count, which a media landing zone has in abundance), and a length
    * predicate (`df.filter(col("length") <= maxBytes)`) belongs on any
    * untrusted drop directory — one oversized payload otherwise owns an
    * executor's memory. `glob` prunes by extension AT LISTING TIME
    * (e.g. "*.png"), before any byte of content is read.
    */
  def binaryFiles(spark: SparkSession, path: String,
                  glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Streaming variant of the JSON source (ST1): same declared schema,
    * same downstream cleaning functions as batch.
    */
  def jsonStream(spark: SparkSession, path: String, schema: StructType,
                 maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)
}

/** Sink connectors (SURVEY.md §2.1 S6/S7). */
object Sinks {

  /** S6 — JSON directory sink (the engine's analog of the reference's
    * S3 JSON connector; sanely batched, not flush.size=1).
    */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Parquet sink, optionally partitioned — the 100 TB layout is
    * date-partitioned parquet, which enables partition pruning.
    *
    * `bloomFilterCols` writes a parquet BLOOM FILTER per named column
    * (the public `parquet.bloom.filter.enabled#col` writer option):
    * point lookups on a high-cardinality key (doc_id, unique_id, tok)
    * then prune ROW GROUPS whose min/max straddles the probe value but
    * whose bloom filter proves it absent — the footer-stats lever for
    * selective scans where sorting/Z-ordering hasn't clustered the key.
    * Costs ~1 MB/row group per column at the default NDV; enable it for
    * keys that are actually probed, not by reflex. `options` passes any
    * further writer options (e.g. `parquet.block.size` to size row
    * groups).
    */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
              bloomFilterCols: Seq[String] = Nil,
              options: Map[String, String] = Map.empty): Unit = {
    val w0 = df.write.mode("overwrite").options(options)
    val w1 = bloomFilterCols.foldLeft(w0)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionBy.nonEmpty) w1.partitionBy(partitionBy: _*) else w1)
      .parquet(path)
  }

  /** CSV sink (header on; interchange format, not the analytics layout —
    * no pushdown, no column pruning, row-text parse on read).
    */
  def csv(df: DataFrame, path: String, delimiter: String = ","): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("delimiter", delimiter)
      .csv(path)

  /** ORC sink — columnar alternative when the lake standard is ORC;
    * same pushdown/pruning properties as parquet.
    */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Bucketed + sorted parquet table (catalog-managed): both sides of a
    * recurring equi-join written with the same bucket spec join with NO
    * exchange and no sort — the shuffle is paid once at write time
    * instead of on every query. This is the co-located-join layout for
    * fact tables at 100 TB (SURVEY.md "Partitioning & shuffle").
    */
  def parquetBucketed(df: DataFrame, table: String, bucketCol: String,
                      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
