package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Maintenance
import graft.sources.{Sinks, Sources}

/** Table-maintenance surface: small-file compaction (the repair for the
  * reference's flush.size=1 layout) and schema-evolution reads.
  */
class MaintenanceSpec extends SparkSpec {

  import spark.implicits._

  test("compaction collapses a many-small-files table without changing its rows") {
    val base = Files.createTempDirectory("graft-compact").toString
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
    // simulate the reference's pathology: scatter into many tiny files
    df.repartition(64).write.parquet(s"$base/small")
    assert(Maintenance.dataFileCount(spark, s"$base/small") >= 64)

    Maintenance.compactParquet(spark, s"$base/small", s"$base/compact")
    val after = Maintenance.dataFileCount(spark, s"$base/compact")
    assert(after < 64 / 4, s"expected strong compaction, got $after files")

    val a = spark.read.parquet(s"$base/small")
    val b = spark.read.parquet(s"$base/compact")
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("per-partition compaction rewrites one day and leaves the rest untouched") {
    val base = Files.createTempDirectory("graft-pcompact").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
    // scatter every day into many small files
    Sinks.parquet(events.repartition(16), s"$base/t", partitionBy = Seq("day"))
    val days = new java.io.File(s"$base/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day=")).map(_.getName).sorted
    assert(days.length >= 2, "need at least two partitions")
    val target = days.head
    val other = days.last
    val beforeTarget = Maintenance.dataFileCount(spark, s"$base/t/$target")
    val beforeOther = new java.io.File(s"$base/t/$other").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap

    // materialize the pre-compaction state: the lazy plan's file index
    // would otherwise reference the deleted originals after the swap
    val beforeRows = spark.read.parquet(s"$base/t")
      .collect().map(_.toString).sorted.toSeq
    Maintenance.compactPartition(spark, s"$base/t", target)

    assert(Maintenance.dataFileCount(spark, s"$base/t/$target") < beforeTarget)
    // untouched partition: identical file names and mtimes
    val afterOther = new java.io.File(s"$base/t/$other").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(afterOther == beforeOther)
    // whole-table contents unchanged
    val afterRows = spark.read.parquet(s"$base/t")
      .collect().map(_.toString).sorted.toSeq
    assert(afterRows == beforeRows)
  }

  test("z-order write clusters BOTH dimensions; random layout clusters neither") {
    val base = Files.createTempDirectory("graft-zorder").toString
    val events = Tables.events(spark, "/root/testdata/sf0.01")
    val nFiles = 16
    // baseline: hash-scattered layout — every file spans ~the full range
    events.repartition(nFiles).write.parquet(s"$base/random")
    Maintenance.zorderWrite(events, col("user_id"), col("value"),
      s"$base/zorder", nFiles)

    // per-file footer stats, as parquet row-group pruning would see them
    def fileRanges(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("value").as("vlo"), max("value").as("vhi"))
      .collect()
    // files a mid-range slice predicate cannot skip
    def overlapping(dir: String, uSlice: Option[(Long, Long)],
                    vSlice: Option[(Double, Double)]) =
      fileRanges(dir).count { r =>
        uSlice.forall { case (lo, hi) =>
          r.getAs[Long]("ulo") <= hi && r.getAs[Long]("uhi") >= lo } &&
        vSlice.forall { case (lo, hi) =>
          r.getAs[Double]("vlo") <= hi && r.getAs[Double]("vhi") >= lo }
      }
    val (uLo, uHi) = {
      val s = events.agg(min("user_id"), max("user_id")).head()
      (s.getLong(0), s.getLong(1))
    }
    val (vLo, vHi) = {
      val s = events.agg(min("value"), max("value")).head()
      (s.getDouble(0), s.getDouble(1))
    }
    // a ~10%-wide slice of each dimension, placed inside [0.25, 0.5) of
    // the range so it doesn't straddle a top-bucket-bit boundary
    val uSlice = (uLo + (uHi - uLo) * 30 / 100, uLo + (uHi - uLo) * 40 / 100)
    val vSlice = (vLo + (vHi - vLo) * 0.30, vLo + (vHi - vLo) * 0.40)
    // random layout: every file straddles both slices — zero skipping
    assert(overlapping(s"$base/random", Some(uSlice), None) == nFiles)
    assert(overlapping(s"$base/random", None, Some(vSlice)) == nFiles)
    // z-order: a narrow slice on EITHER dimension prunes files. At 16
    // files the Morton prefix is (a15, b15, a14, b14): BOTH dimensions
    // get two interleave levels, so a slice inside one quarter of the
    // range touches 4 qualifying cells (two z-runs) + at most ~4
    // boundary-straddling files. Bound = 4 + 4 + 2 slack because
    // repartitionByRange's sample seed folds in the RDD id (a JVM-global
    // counter): under a concurrent suite the cut points genuinely vary
    // run to run — the old 8-file bounds left 1 straddler of slack and
    // flaked. The clustering itself is deterministic.
    val zU = overlapping(s"$base/zorder", Some(uSlice), None)
    val zV = overlapping(s"$base/zorder", None, Some(vSlice))
    assert(zU <= nFiles * 5 / 8, s"user_id slice still touches $zU of $nFiles files")
    assert(zV <= nFiles * 5 / 8, s"value slice still touches $zV of $nFiles files")
    // clustering must not lose or duplicate rows
    assert(spark.read.parquet(s"$base/zorder").count() == events.count())
  }

  test("z-order tolerates a constant column: bucket 0, rows conserved, no NaN") {
    val base = Files.createTempDirectory("graft-zconst").toString
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("konst", lit(42L))
    Maintenance.zorderWrite(df, col("konst"), col("user_id"), s"$base/z", 4)
    val out = spark.read.parquet(s"$base/z")
    assert(out.count() == df.count())
    // the varying column still clusters even with a degenerate partner
    val files = out.groupBy(input_file_name())
      .agg(min("user_id").as("lo"), max("user_id").as("hi")).collect()
    val spans = files.map(r => r.getAs[Long]("hi") - r.getAs[Long]("lo"))
    val global = df.agg(max("user_id").cast("long") - min("user_id").cast("long"))
      .head().getLong(0)
    assert(spans.count(_ < global / 2) >= files.length / 2,
      s"constant partner destroyed clustering: spans ${spans.toSeq} vs global $global")
  }

  test("3-column z-order clusters every dimension at once") {
    val base = Files.createTempDirectory("graft-zorder3").toString
    val events = Tables.events(spark, "/root/testdata/sf0.01")
    val nFiles = 16
    Maintenance.zorderWrite(events,
      Seq(col("user_id"), col("value"), col("ts")), s"$base/z3", nFiles)
    val ranges = spark.read.parquet(s"$base/z3")
      .groupBy(input_file_name())
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("value").as("vlo"), max("value").as("vhi"),
        min(col("ts").cast("double")).as("tlo"),
        max(col("ts").cast("double")).as("thi"))
      .collect()
    def slice(lo: Double, hi: Double) = (lo + (hi - lo) * 0.30, lo + (hi - lo) * 0.40)
    def overlap(loF: String, hiF: String, s: (Double, Double)) = ranges.count { r =>
      val lo = r.get(r.fieldIndex(loF)) match { case l: Long => l.toDouble; case d: Double => d }
      val hi = r.get(r.fieldIndex(hiF)) match { case l: Long => l.toDouble; case d: Double => d }
      lo <= s._2 && hi >= s._1
    }
    val glob = events.agg(
      min("user_id").cast("double"), max("user_id").cast("double"),
      min("value"), max("value"),
      min(col("ts").cast("double")), max(col("ts").cast("double"))).head()
    val u = overlap("ulo", "uhi", slice(glob.getDouble(0), glob.getDouble(1)))
    val v = overlap("vlo", "vhi", slice(glob.getDouble(2), glob.getDouble(3)))
    val t = overlap("tlo", "thi", slice(glob.getDouble(4), glob.getDouble(5)))
    // 16 files = 4 Morton prefix bits (u,v,t,u): the first column prunes
    // to ~1/4 of files, the others to ~1/2 plus boundary straddlers — a
    // file whose sampled cut crosses a v/t bit flip spans both halves.
    // repartitionByRange's sample seed folds in the RDD id (a JVM-global
    // counter), so under a concurrent suite the cut points — and the
    // straddler count — genuinely vary run to run (observed up to 13/16
    // on the second dimension). First-dimension pruning is prefix-
    // protected and tight; the later dimensions assert the structural
    // claim (some files ARE skipped) with tail-safe slack.
    assert(u <= nFiles / 2, s"user_id slice touches $u of $nFiles")
    assert(v <= nFiles * 7 / 8, s"value slice touches $v of $nFiles")
    assert(t <= nFiles * 7 / 8, s"ts slice touches $t of $nFiles")
  }

  test("parquet bloom filter: written to the footer, and a point probe " +
      "inside every row group's min-max reads a fraction of the bytes") {
    val base = Files.createTempDirectory("graft-bloom").toString
    // only EVEN keys exist, scrambled so EVERY row group's [min, max]
    // spans ~the full key range — min/max stats can prune nothing for
    // an in-range probe; only the bloom filter can prove an odd key
    // absent. A wide incompressible payload makes the un-pruned scan
    // pay real data bytes; 1 MB row groups → ~25 groups in one file.
    val rows = spark.range(0, 200000)
      .select((col("id") * 2).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string")),
          md5((col("id") + 2).cast("string")),
          md5((col("id") + 3).cast("string"))).as("payload"))
      .repartition(1)
      .sortWithinPartitions(pmod(xxhash64(col("k")), lit(1000000)))
    // dictionary encoding OFF: at toy scale every row group's
    // dictionary holds its full value set and parquet's DICTIONARY
    // filtering already prunes the probe — at 100 TB a high-cardinality
    // key overflows the dictionary page and that lever vanishes, which
    // is exactly when the bloom filter earns its bytes. This pins the
    // test to the scale-relevant encoding. The NDV hint sizes each
    // group's filter for its ~8k keys (~10 KB) instead of the 1 MB
    // default cap — unsized blooms would outweigh the data they guard.
    val opts = Map("parquet.block.size" -> "1048576",
      "parquet.enable.dictionary" -> "false")
    // NB the NDV hint goes ONLY to the bloom write: parquet-mr treats a
    // per-column NDV as an implicit enable for that column's filter
    Sinks.parquet(rows, s"$base/bloom", bloomFilterCols = Seq("k"),
      options = opts + ("parquet.bloom.filter.expected.ndv#k" -> "8000"))
    Sinks.parquet(rows, s"$base/plain", options = opts)

    // footer: the bloom table carries a filter for k, the plain one none
    import scala.jdk.CollectionConverters._
    def bloomOf(dir: String) = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          spark.sessionState.newHadoopConf()))
      try {
        val groups = rd.getRowGroups.asScala
        assert(groups.size > 3, s"need several row groups, got ${groups.size}")
        val cm = groups.head.getColumns.asScala
          .find(_.getPath.toDotString == "k").get
        rd.readBloomFilter(cm) != null
      } finally rd.close()
    }
    assert(bloomOf(s"$base/bloom"), "bloom filter missing from the footer")
    assert(!bloomOf(s"$base/plain"), "plain write must carry no bloom filter")

    // scan bytes for a probe value that min/max cannot exclude: the
    // probe PROJECTS the payload, so any row group the footer cannot
    // prune pays its data bytes (the vectorized reader materializes all
    // projected columns before the filter runs). Vectored IO off for the
    // measurement only: parquet-mr's readVectored path bypasses the
    // Hadoop FS statistics that feed inputMetrics.bytesRead, so data-page
    // bytes would go uncounted (footer/bloom reads use counted
    // positioned reads either way).
    def probeBytes(dir: String): Long = {
      def run() = spark.read
        .option("parquet.hadoop.vectored.io.enabled", "false")
        .parquet(dir)
        .filter(col("k") === 100001L).select(col("payload")).collect()
      assert(run().isEmpty) // warm
      val (rows, counts) =
        org.apache.spark.graft.EngineListener.measure(spark)(run())
      assert(rows.isEmpty)
      counts.inputBytes
    }
    val withBloom = probeBytes(s"$base/bloom")
    val without = probeBytes(s"$base/plain")
    assert(withBloom * 2 < without,
      s"bloom probe read $withBloom bytes vs $without without — row " +
        "groups were not pruned")
  }

  test("malformed JSON records are quarantined, not dropped or fatal") {
    val base = Files.createTempDirectory("graft-corrupt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/data.json"),
      Seq(
        """{"ind":1,"country":"Peru","latitude":1.0,"longitude":2.0,"timestamp":"2020-01-01 00:00:00"}""",
        """this is not json at all""",
        """{"ind":2,"country":"Kenya","latitude":3.0,"longitude":4.0,"timestamp":"2020-01-02 00:00:00"}""",
        """{"ind": BROKEN}""").mkString("\n").getBytes("UTF-8"))
    // Spark disallows corrupt-column-only queries straight off the raw
    // scan; a real pipeline lands the parse result before auditing it
    val df = Sources.jsonWithCorrupt(spark, base, graft.clean.Schemas.rawGeo).cache()
    assert(df.count() == 4, "every input line must surface")
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() == 2)
    // quarantined lines carry the raw text for the dead-letter sink
    assert(bad.select("_corrupt_record").as[String].collect().toSet ==
      Set("this is not json at all", """{"ind": BROKEN}"""))
    // clean rows parsed fully
    assert(df.filter(col("_corrupt_record").isNull).select("ind")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("CSV and ORC round-trip the customer table losslessly") {
    val base = Files.createTempDirectory("graft-formats").toString
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")

    Sinks.csv(customer, s"$base/csv")
    val viaCsv = Sources.csv(spark, s"$base/csv", customer.schema)
    assert(viaCsv.count() == customer.count())
    assert(viaCsv.exceptAll(customer).isEmpty && customer.exceptAll(viaCsv).isEmpty)

    Sinks.orc(customer, s"$base/orc")
    val viaOrc = Sources.orc(spark, s"$base/orc")
    assert(viaOrc.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      customer.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(viaOrc.exceptAll(customer).isEmpty && customer.exceptAll(viaOrc).isEmpty)
    // ORC scans push filters like parquet (the columnar contract holds)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = viaOrc.filter(col("c_custkey") === 7L).queryExecution
        .executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,7)]"),
        s"no pushed filters in ORC scan: $plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("mergeSchema surfaces late-added columns as nulls on old files") {
    val base = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.parquet(s"$base/t/batch=0")
    Seq((3L, "c", 9.5), (4L, "d", 8.5)).toDF("id", "s", "score")
      .write.parquet(s"$base/t/batch=1")

    val merged = Sources.parquetMergeSchema(spark, s"$base/t")
    assert(merged.columns.toSet == Set("id", "s", "score", "batch"))
    val rows = merged.select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty)
    assert(rows(3L).contains(9.5) && rows(4L).contains(8.5))
  }
}
