package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.EngineListener
import graft.sources.Versioned

/** S3 — versioned table format: ACID-ish commit log over plain parquet
  * (public Delta-protocol concepts). Covers append/overwrite, snapshot
  * isolation + time travel, schema-at-commit, optimistic-concurrency
  * retry, checkpoint-bounded replay, vacuum, and CDC merge.
  */
class VersionedSpec extends SparkSpec {

  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-versioned").toString + "/t"

  test("append/overwrite commit versions; reads are latest-by-default") {
    val t = tmpTable()
    assert(Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) == 0L)
    assert(Versioned.append(Seq((3L, "c")).toDF("id", "s"), t) == 1L)
    assert(Versioned.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Versioned.overwrite(Seq((9L, "z")).toDF("id", "s"), t) == 2L)
    assert(Versioned.read(spark, t).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(Versioned.history(spark, t).map(h => (h._1, h._2)) ==
      Seq((0L, "append"), (1L, "append"), (2L, "overwrite")))
  }

  test("time travel reads every historical version unchanged") {
    val t = tmpTable()
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t)
    Versioned.overwrite(Seq((3L, "c")).toDF("id", "s"), t)
    assert(Versioned.read(spark, t, asOf = Some(0L))
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(Versioned.read(spark, t, asOf = Some(1L))
      .as[(Long, String)].collect().sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "b")))
    assert(Versioned.read(spark, t, asOf = Some(2L))
      .as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    // a reader's resolved snapshot is immune to later commits
    val pinned = Versioned.read(spark, t, asOf = Some(1L))
    Versioned.overwrite(Seq((4L, "d")).toDF("id", "s"), t)
    assert(pinned.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("schema comes from the log: evolved append surfaces nulls on old files") {
    val t = tmpTable()
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.append(Seq((2L, "b", 9.5)).toDF("id", "s", "score"), t)
    val r = Versioned.read(spark, t).select("id", "score")
      .as[(Long, Option[Double])].collect().toMap
    assert(r == Map(1L -> None, 2L -> Some(9.5)))
    // time travel to v0 serves the ORIGINAL two-column schema
    assert(Versioned.read(spark, t, asOf = Some(0L)).columns.toSeq == Seq("id", "s"))
  }

  test("optimistic concurrency: a lost commit race retries onto the next version") {
    val t = tmpTable()
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    // another writer wins version 1 out from under this one
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val winner = Versioned.append(Seq((2L, "b")).toDF("id", "s"), t)
    assert(winner == 1L)
    // now pre-plant version 2's log entry to force one losing attempt
    val stolen = new Path(s"$t/_graft_log/${"%020d".format(2)}.json")
    val out = f.create(stolen, false)
    out.write(
      """{"version":2,"action":"append","add":[],"schema":""}""".getBytes("UTF-8"))
    out.close()
    val v = Versioned.append(Seq((3L, "c")).toDF("id", "s"), t)
    assert(v == 3L, s"loser must land on the NEXT free version, got $v")
    assert(Versioned.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("checkpoint bounds replay: old log entries are not needed past it") {
    val t = tmpTable()
    (0 to 12).foreach { i =>
      Versioned.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), t)
    }
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new Path(s"$t/_graft_log/${"%020d".format(10)}.checkpoint.json")))
    // simulate log retention: drop entries 0..9 (consolidated into the
    // checkpoint) — latest read must still resolve completely
    (0 to 9).foreach(i =>
      f.delete(new Path(s"$t/_graft_log/${"%020d".format(i)}.json"), false))
    val ids = Versioned.read(spark, t).select("id").as[Long].collect().sorted
    assert(ids.toSeq == (0L to 12L))
  }

  test("vacuum drops files unreachable from retained versions; latest survives") {
    val t = tmpTable()
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.overwrite(Seq((2L, "b")).toDF("id", "s"), t)
    Versioned.overwrite(Seq((3L, "c")).toDF("id", "s"), t)
    val removed = Versioned.vacuum(spark, t, retainVersions = 1)
    assert(removed > 0, "v0/v1 data files should be reclaimable")
    assert(Versioned.read(spark, t).as[(Long, String)].collect().toSeq ==
      Seq((3L, "c")))
    // vacuuming again is a no-op (idempotent)
    assert(Versioned.vacuum(spark, t, retainVersions = 1) == 0)
  }

  test("commit-log stats: per-commit and cumulative rows/bytes reconcile " +
      "without a data scan, survive checkpoint replay, and degrade to " +
      "unknown on pre-stats entries") {
    val t = tmpTable()
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), t)
    Versioned.overwrite((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), t)
    // per-commit stats: each entry records its OWN adds
    val hs = Versioned.historyStats(spark, t)
    assert(hs.map(h => (h._1, h._2, h._4)) ==
      Seq((0L, "append", 2L), (1L, "append", 1L), (2L, "overwrite", 5L)))
    assert(hs.forall(_._5 > 0L), "every commit must record positive bytes")
    // cumulative stats come from the log alone and match the files
    assert(Versioned.snapshotStats(spark, t) == Some((5L,
      liveBytes(t))), "latest snapshot stats must match the live files")
    assert(Versioned.snapshotStats(spark, t, asOf = Some(1L)).map(_._1) ==
      Some(3L), "append stats must accumulate")

    // survives checkpoint replay: 13 more commits → checkpoint at v10;
    // drop the consolidated entries and the totals still resolve
    (0 until 11).foreach(i =>
      Versioned.append(Seq((100L + i, "x")).toDF("id", "s"), t))
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new Path(s"$t/_graft_log/${"%020d".format(10)}.checkpoint.json")))
    (0 to 9).foreach(i =>
      f.delete(new Path(s"$t/_graft_log/${"%020d".format(i)}.json"), false))
    assert(Versioned.snapshotStats(spark, t) == Some((16L, liveBytes(t))),
      "cumulative stats must ride the checkpoint, not the dropped entries")

    // a pre-stats entry (no rows/bytes fields) makes the cumulative
    // UNKNOWN rather than silently wrong — and the per-commit view
    // shows exactly which entry is blind
    val schemaEsc = Versioned.read(spark, t).schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val legacy = new Path(s"$t/_graft_log/${"%020d".format(14)}.json")
    val out = f.create(legacy, false)
    out.write(("""{"version":14,"action":"append","add":[],""" +
      s""""schema":"$schemaEsc"}""").getBytes("UTF-8"))
    out.close()
    assert(Versioned.snapshotStats(spark, t).isEmpty,
      "unknown must be sticky, not treated as zero")
    assert(Versioned.historyStats(spark, t).find(_._1 == 14L).get._4 == -1L)
    // compact still works off the listing fallback, and the rewrite's
    // own commit restores known stats
    Versioned.compact(spark, t)
    assert(Versioned.snapshotStats(spark, t) == Some((16L, liveBytes(t))))
  }

  test("commit-log stats cover partitioned and bucketed layouts") {
    import org.apache.spark.sql.functions.col
    val t = tmpTable()
    Versioned.overwritePartitioned(
      Seq((1L, "p0"), (2L, "p1"), (3L, "p0")).toDF("id", "part"), t, "part")
    Versioned.appendPartitioned(Seq((4L, "p2")).toDF("id", "part"), t, "part")
    assert(Versioned.snapshotStats(spark, t).map(_._1) == Some(4L))
    assert(Versioned.snapshotStats(spark, t).get._2 > 0L)
    val b = tmpTable()
    Versioned.overwriteBucketed(
      spark.range(100).select(col("id")), b, "id", 4)
    assert(Versioned.snapshotStats(spark, b) == Some((100L, liveBytes(b))))
  }

  /** Sum of the live snapshot's file lengths straight off the disk —
    * the ground truth the log stats must reproduce. */
  private def liveBytes(t: String): Long = {
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Versioned.read(spark, t).inputFiles.map(p =>
      f.getFileStatus(new Path(new java.net.URI(p))).getLen).sum
  }

  test("writeOptions reach the staged parquet: a bloom-enabled commit " +
      "carries the filter in its footer, the next plain commit does not") {
    import scala.jdk.CollectionConverters._
    val t = tmpTable()
    val df = spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS s")
    Versioned.overwrite(df, t, writeOptions = Map(
      "parquet.bloom.filter.enabled#k" -> "true",
      "parquet.bloom.filter.expected.ndv#k" -> "1000"))
    Versioned.append(df.selectExpr("k + 1000 AS k", "s"), t)
    def hasBloom(file: String): Boolean = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(file), spark.sessionState.newHadoopConf()))
      try {
        val cm = rd.getRowGroups.asScala.head.getColumns.asScala
          .find(_.getPath.toDotString == "k").get
        rd.readBloomFilter(cm) != null
      } finally rd.close()
    }
    val hist = Versioned.historyStats(spark, t)
    assert(hist.map(_._4) == Seq(1000L, 1000L), "stats ride optioned commits")
    // v0's files carry the filter; v1's (no options) do not — options
    // are per-commit, like the layout
    val v0files = Versioned.read(spark, t, asOf = Some(0L)).inputFiles
    val v1only = Versioned.read(spark, t).inputFiles.toSet -- v0files.toSet
    assert(v0files.nonEmpty && v1only.nonEmpty)
    assert(v0files.forall(hasBloom), "bloom filter missing from optioned commit")
    assert(!v1only.exists(hasBloom), "plain append must not inherit options")
  }

  test("compact merges many small append files into few; history intact") {
    val t = tmpTable()
    // the daily-append pattern: one small file set per batch
    (0 until 6).foreach { i =>
      Versioned.append(
        Seq((i.toLong, s"batch$i")).toDF("id", "s").repartition(4), t): Unit
    }
    val before = Versioned.read(spark, t).inputFiles.length
    assert(before >= 6, s"expected ≥6 files before compaction, got $before")
    val all = Versioned.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq

    val v = Versioned.compact(spark, t)
    assert(v == 6L)
    // identical content, far fewer files (6 rows → one 128 MB target file)
    assert(Versioned.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq == all)
    assert(Versioned.read(spark, t).inputFiles.length == 1)
    // compaction is a new version, not a rewrite of history: every
    // pre-compaction version still time-travels
    assert(Versioned.read(spark, t, asOf = Some(2L))
      .as[(Long, String)].collect().sortBy(_._1).toSeq == all.take(3))
    // vacuum reclaims the superseded small files; latest still reads
    assert(Versioned.vacuum(spark, t, retainVersions = 1) > 0)
    assert(Versioned.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq == all)
  }

  test("bucketed layout: no-Exchange aggregation + bucket pruning, append " +
      "demotes, compact restores, catalog entry is disposable") {
    import org.apache.spark.sql.functions._
    val t = tmpTable()
    val df = (1 to 400).map(i => (s"tok${i % 23}", i.toLong)).toDF("tok", "n")
    assert(Versioned.overwriteBucketed(df, t, "tok", 8) == 0L)
    def plan(d: org.apache.spark.sql.DataFrame) = d.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    def agg() = Versioned.read(spark, t).groupBy("tok")
      .agg(sum(col("n")).as("s"))
    val exact = agg().as[(String, Long)].collect().sortBy(_._1).toSeq

    // the layout does its two jobs: hash(tok) arrives pre-partitioned
    // (no Exchange under the aggregation) and a literal filter prunes
    // whole buckets at the scan
    assert(!plan(agg()).contains("Exchange"),
      "bucketed snapshot must aggregate on tok with no shuffle")
    val pruned = agg().filter(col("tok").isin("tok3", "tok7"))
    assert(plan(pruned).contains("SelectedBucketsCount: 2 out of 8"), plan(pruned))

    // a plain append DEMOTES reads to unbucketed files (correct, shuffled)
    Versioned.append(Seq(("tok3", 1000L)).toDF("tok", "n"), t): Unit
    val demotedRows = agg().as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(plan(agg()).contains("Exchange"))
    assert(demotedRows.find(_._1 == "tok3").map(_._2) ==
      exact.find(_._1 == "tok3").map(_._2 + 1000L))

    // compact re-establishes the layout over the merged snapshot
    assert(Versioned.compact(spark, t) == 2L)
    assert(!plan(agg()).contains("Exchange"),
      "compaction must restore the bucketed layout after appends")
    assert(agg().as[(String, Long)].collect().sortBy(_._1).toSeq == demotedRows)

    // time travel: v0 reads bucketed, v1 reads demoted — same rows
    assert(!plan(Versioned.read(spark, t, Some(0L)).groupBy("tok")
      .agg(sum(col("n")).as("s"))).contains("Exchange"))
    assert(Versioned.read(spark, t, Some(0L)).count() == 400L)

    // the catalog entry is a disposable cache: dropping it (what a fresh
    // session looks like — catalogs are per-process, files are durable)
    // just recreates it on the next read
    val entries = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_b_")).collect()
    assert(entries.nonEmpty)
    entries.foreach(e => spark.sql(s"DROP TABLE `${e.name}`"))
    assert(!plan(agg()).contains("Exchange"))
    assert(agg().as[(String, Long)].collect().sortBy(_._1).toSeq == demotedRows)
  }

  test("bucketed layout: a shuffle-fallback join pays its Exchange on the " +
      "OTHER side only — the corpus-sized bucketed table never re-shuffles") {
    import org.apache.spark.sql.functions._
    val t = tmpTable()
    // the IVF-assignment shape: corpus-sized rows keyed by centroid
    val assignment = (1 to 2000)
      .map(i => (i.toLong % 16, i.toLong)).toDF("centroid_id", "cand_id")
    Versioned.overwriteBucketed(assignment, t, "centroid_id", 8): Unit
    // a query batch too large to broadcast (forced by disabling the
    // broadcast threshold): the join must fall back to a shuffle join
    val probes = (1 to 500).map(i => (i.toLong % 16, i.toLong))
      .toDF("centroid_id", "query_id")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Versioned.read(spark, t).join(probes, Seq("centroid_id"))
      val plan = joined.queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"expected exactly ONE Exchange (the probe side), got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() == 2000L * 500 / 16)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("partitioned-append guard is bidirectional: appendPartitioned " +
      "refuses plain, bucketed, empty, and column-mismatched targets") {
    // onto a PLAIN table: the partitioned DIR add would mix with
    // per-file adds and read through the plain multi-root path
    val plain = tmpTable()
    Versioned.append(Seq((1L, "a")).toDF("id", "p"), plain): Unit
    val exPlain = intercept[IllegalArgumentException] {
      Versioned.appendPartitioned(Seq((2L, "b")).toDF("id", "p"), plain, "p")
    }
    assert(exPlain.getMessage.contains("declared layout"))

    // onto a BUCKETED table
    val bucketed = tmpTable()
    Versioned.overwriteBucketed(Seq((1L, "a")).toDF("id", "p"), bucketed,
      "id", 2): Unit
    assert(intercept[IllegalArgumentException] {
      Versioned.appendPartitioned(Seq((2L, "b")).toDF("id", "p"), bucketed, "p")
    }.getMessage.contains("declared layout"))

    // onto an EMPTY table (no declared layout to match)
    val empty = tmpTable()
    assert(intercept[IllegalArgumentException] {
      Versioned.appendPartitioned(Seq((2L, "b")).toDF("id", "p"), empty, "p")
    }.getMessage.contains("declared layout"))

    // onto a partitioned table with a DIFFERENT column
    val parted = tmpTable()
    Versioned.overwritePartitioned(
      Seq((1L, "a", "x")).toDF("id", "p", "q"), parted, "p"): Unit
    assert(intercept[IllegalArgumentException] {
      Versioned.appendPartitioned(
        Seq((2L, "b", "y")).toDF("id", "p", "q"), parted, "q")
    }.getMessage.contains("same directory layout"))
    // the matching append still works and the layout survives
    Versioned.appendPartitioned(
      Seq((2L, "b", "y")).toDF("id", "p", "q"), parted, "p"): Unit
    assert(Versioned.read(spark, parted).count() == 2)
    assert(Versioned.declaredLayout(spark, parted) == "part:p")
  }

  test("relation cache retains latest-N entries per table; evicted " +
      "versions stay readable") {
    val t = tmpTable()
    (0 to 6).foreach(i =>
      Versioned.overwrite(Seq((i.toLong, s"v$i")).toDF("k", "v"), t): Unit)
    // touch every historical version plus latest: the cache must stay
    // bounded (latest-N retention, r18) …
    (0L to 6L).foreach(v =>
      Versioned.read(spark, t, asOf = Some(v)).collect(): Unit)
    Versioned.read(spark, t).collect(): Unit
    assert(Versioned.relationCacheEntries(t) <= 4,
      s"cache grew to ${Versioned.relationCacheEntries(t)} entries")
    // … and an evicted version re-reads correctly (eviction drops the
    // cached plan, never the data)
    assert(Versioned.read(spark, t, asOf = Some(0L)).select("v")
      .as[String].head() == "v0")
  }

  test("relation cache evicts by read recency: a pin older than every " +
      "cached version stays cached after it is read") {
    val t = tmpTable()
    (0 to 5).foreach(i =>
      Versioned.overwrite(Seq((i.toLong, s"v$i")).toDF("k", "v"), t): Unit)
    Versioned.read(spark, t): Unit
    val pinned = (4L to 0L by -1L).map(v => Versioned.read(spark, t, Some(v)))
    assert(Versioned.read(spark, t, asOf = Some(0L)) eq pinned.last,
      "a re-read of the most recently read pin must hit the cache")
    assert(Versioned.relationCacheEntries(t) <= 4)
  }

  test("rows: a per-version constant is read once per (table, version); a " +
      "new commit, a vacuum and a rebuilt directory are read afresh") {
    val t = tmpTable()
    Versioned.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
    def keys(asOf: Option[Long] = None): (Seq[Long], Int) = {
      val (ks, counts) = EngineListener.measure(spark)(
        Versioned.rows(spark, t, asOf, Seq("k")).map(_.getLong(0)).sorted)
      (ks, counts.jobs)
    }
    val (first, j0) = keys()
    assert(first == Seq(1L) && j0 > 0)
    assert(keys() == ((Seq(1L), 0)),
      "a second read of the same (table, version) must run no job")
    // a new commit is a new snapshot; the old one stays memoized
    Versioned.append(Seq((2L, "b")).toDF("k", "v"), t)
    val (latest, j1) = keys()
    assert(latest == Seq(1L, 2L) && j1 > 0)
    assert(keys(Some(0L)) == ((Seq(1L), 0)))
    assert(keys(Some(1L)) == ((Seq(1L, 2L), 0)))
    // vacuum drops the table's cache entries, rows included
    Versioned.vacuum(spark, t, retainVersions = 2)
    val (vacuumed, j2) = keys()
    assert(vacuumed == Seq(1L, 2L) && j2 > 0)
    // wiped and rebuilt at the same path: version 0 again, new file digest
    val p = new Path(t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Versioned.overwrite(Seq((9L, "z")).toDF("k", "v"), t)
    val (rebuilt, j3) = keys(Some(0L))
    assert(rebuilt == Seq(9L) && j3 > 0)
  }

  test("merge: CDC upserts produce new versions with Upsert semantics") {
    val t = tmpTable()
    Versioned.merge(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "seq"), t,
      Seq("k"), orderCol = Some("seq"))
    Versioned.merge(
      Seq((2L, "B", 2L), (2L, "B2", 3L), (9L, "z", 2L)).toDF("k", "v", "seq"), t,
      Seq("k"), orderCol = Some("seq"))
    val r = Versioned.read(spark, t).select("k", "v").as[(Long, String)]
      .collect().toMap
    assert(r == Map(1L -> "a", 2L -> "B2", 9L -> "z"))
    assert(Versioned.latestVersion(spark, t) == 1L)
    // the pre-merge state is still time-travel readable
    assert(Versioned.read(spark, t, asOf = Some(0L)).select("k", "v")
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b"))
  }
}
