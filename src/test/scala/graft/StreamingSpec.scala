package graft

import graft.operators.Index
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.clean.{Cleaners, Schemas}
import graft.sources.{Emulator, Sources}
import graft.operators.Retrieval.{Hybrid, Ivf, Pq}
import graft.streaming.StreamJobs

/** Streaming surface (SURVEY.md §5.2 layer 5): file-source micro-batch
  * parity with the batch cleaner, checkpointed resume, and the
  * watermarked windowed count against its batch twin.
  */
class StreamingSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-stream-test").toString

  test("streaming clean output equals batch clean output on identical input") {
    val work = tmpDir()
    Emulator.write(s"$work/raw", n = 300, seed = 11L)

    StreamJobs.cleanToParquet(spark, s"$work/raw/pin", Schemas.rawPin,
      Cleaners.pin, s"$work/out/pin", s"$work/ckpt/pin").awaitTermination()

    val streamed = spark.read.parquet(s"$work/out/pin")
    val batch = Cleaners.pin(Sources.json(spark, s"$work/raw/pin", Schemas.rawPin))
    assert(streamed.count() == 300)
    // same rows regardless of order
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("checkpoint resume processes only newly arrived files") {
    val work = tmpDir()
    Emulator.write(s"$work/raw", n = 100, seed = 21L)
    StreamJobs.cleanToParquet(spark, s"$work/raw/user", Schemas.rawUser,
      Cleaners.user, s"$work/out/user", s"$work/ckpt/user").awaitTermination()
    assert(spark.read.parquet(s"$work/out/user").count() == 100)

    Emulator.writeWave(s"$work/raw", start = 100, n = 50, seed = 22L)
    StreamJobs.cleanToParquet(spark, s"$work/raw/user", Schemas.rawUser,
      Cleaners.user, s"$work/out/user", s"$work/ckpt/user").awaitTermination()
    val out = spark.read.parquet(s"$work/out/user")
    assert(out.count() == 150) // 100 + 50, not 100 + 150 reprocessed
    assert(out.select("ind").distinct().count() == 150)
  }

  test("windowed count over the stream equals the batch windowed count") {
    val work = tmpDir()
    Emulator.write(s"$work/raw", n = 400, seed = 31L)

    val geoStream = Cleaners.geo(
      Sources.jsonStream(spark, s"$work/raw/geo", Schemas.rawGeo))
    StreamJobs.toMemorySink(
      StreamJobs.windowedCountsByCountry(geoStream), "windowed_test")
      .awaitTermination()
    val streamed = spark.table("windowed_test")

    val geoBatch = Cleaners.geo(Sources.json(spark, s"$work/raw/geo", Schemas.rawGeo))
    val batch = StreamJobs.windowedCountsByCountry(geoBatch)

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup emits each key exactly once across duplicated files") {
    val work = tmpDir()
    Emulator.write(s"$work/raw", n = 120, seed = 51L)
    // byte-identical duplicate files under new names: the same records
    // arrive again, as a file stream would re-deliver on producer retry
    val geoDir = new java.io.File(s"$work/raw/geo")
    geoDir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, f.toPath.resolveSibling("dup_" + f.getName))
    }
    val geoStream = Cleaners.geo(
      Sources.jsonStream(spark, s"$work/raw/geo", Schemas.rawGeo))
    // fixture timestamps span years → a huge lateness bound so nothing is
    // dropped as late; production would use minutes and bounded state
    val deduped = StreamJobs.dedupStream(geoStream, "timestamp", "3650 days", Seq("ind"))
    deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val out = spark.table("dedup_test")
    assert(out.count() == 120, "each duplicated record must surface exactly once")
    assert(out.select("ind").distinct().count() == 120)
  }

  test("stream-stream join within an event-time bound matches the batch join") {
    val work = tmpDir()
    Emulator.write(s"$work/raw", n = 150, seed = 71L)
    def geoSide() = Cleaners.geo(
      Sources.jsonStream(spark, s"$work/raw/geo", Schemas.rawGeo))
    // the "pin" side reuses the geo records with an aligned event time —
    // the test exercises the two-sided state machinery, not the data
    def pinSide(df: org.apache.spark.sql.DataFrame) = df.select(
      org.apache.spark.sql.functions.col("ind"),
      org.apache.spark.sql.functions.col("country").as("category"),
      org.apache.spark.sql.functions.col("timestamp").as("pin_ts"))

    val joined = StreamJobs.streamStreamJoin(geoSide(), pinSide(geoSide()), withinMinutes = 10)
    joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.table("ss_join_test")

    val geoBatch = Cleaners.geo(Sources.json(spark, s"$work/raw/geo", Schemas.rawGeo))
    val batch = StreamJobs.streamStreamJoin(geoBatch, pinSide(geoBatch), withinMinutes = 10)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming CDC apply: micro-batches merge into a parquet snapshot") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val work = tmpDir()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("seq", LongType)))
    def writeBatch(name: String, rows: Seq[String]): Unit = {
      new java.io.File(s"$work/cdc").mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/cdc/$name"),
        rows.mkString("\n").getBytes("UTF-8"))
    }
    def applyOnce(): Unit =
      StreamJobs.upsertStream(
        Sources.jsonStream(spark, s"$work/cdc", schema),
        s"$work/snapshot", Seq("k"), "seq", s"$work/ckpt").awaitTermination()

    // batch 1: keys 1..4; key 2 has TWO events — seq 11 must win
    writeBatch("b1.json", Seq(
      """{"k":1,"v":"a","seq":1}""", """{"k":2,"v":"b","seq":2}""",
      """{"k":2,"v":"b2","seq":11}""",
      """{"k":3,"v":"c","seq":3}""", """{"k":4,"v":"d","seq":4}"""))
    applyOnce()
    val s1 = spark.read.parquet(s"$work/snapshot")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(s1 == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))

    // batch 2: update key 3, insert key 9; keys 1/2/4 must carry over
    writeBatch("b2.json", Seq(
      """{"k":3,"v":"C","seq":20}""", """{"k":9,"v":"z","seq":21}"""))
    applyOnce()
    val s2 = spark.read.parquet(s"$work/snapshot")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(s2 == Map(1L -> "a", 2L -> "b2", 3L -> "C", 4L -> "d", 9L -> "z"))
  }

  test("CDC apply survives a crashed swap's leftovers — no merged key dropped") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val work = tmpDir()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("seq", LongType)))
    def writeBatch(name: String, rows: Seq[String]): Unit = {
      new java.io.File(s"$work/cdc").mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/cdc/$name"),
        rows.mkString("\n").getBytes("UTF-8"))
    }
    def applyOnce(): Unit =
      StreamJobs.upsertStream(
        Sources.jsonStream(spark, s"$work/cdc", schema),
        s"$work/snapshot", Seq("k"), "seq", s"$work/ckpt").awaitTermination()

    writeBatch("b1.json", Seq(
      """{"k":1,"v":"a","seq":1}""", """{"k":2,"v":"b","seq":2}"""))
    applyOnce()

    // strand BOTH artifacts a crashed swap can leave behind: a stale
    // staging dir (crash before the swap) and a stale .old dir (crash
    // after step 2, before cleanup) — the next apply must ignore both
    Seq((999L, "junk", 0L)).toDF("k", "v", "seq")
      .write.parquet(s"$work/snapshot.staging")
    spark.read.parquet(s"$work/snapshot").write.parquet(
      graft.operators.Publish.retired(
        new org.apache.hadoop.fs.Path(s"$work/snapshot")).toString)

    writeBatch("b2.json", Seq(
      """{"k":3,"v":"c","seq":10}""", """{"k":1,"v":"A","seq":11}"""))
    applyOnce()
    val s2 = spark.read.parquet(s"$work/snapshot")
      .select("k", "v").as[(Long, String)].collect().toMap
    // every previously merged key survived; the junk staging never leaked
    assert(s2 == Map(1L -> "A", 2L -> "b", 3L -> "c"))
    // the stale .old was cleared by the successful swap
    assert(!new java.io.File(s"$work/.snapshot.old").exists())
  }

  test("CDC apply into a versioned table: one commit per batch, time travel intact") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    import graft.sources.Versioned
    val work = tmpDir()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("seq", LongType)))
    def writeBatch(name: String, rows: Seq[String]): Unit = {
      new java.io.File(s"$work/cdc").mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/cdc/$name"),
        rows.mkString("\n").getBytes("UTF-8"))
    }
    def applyOnce(): Unit =
      StreamJobs.upsertStreamVersioned(
        Sources.jsonStream(spark, s"$work/cdc", schema),
        s"$work/vt", Seq("k"), "seq", s"$work/ckpt").awaitTermination()

    writeBatch("b1.json", Seq(
      """{"k":1,"v":"a","seq":1}""", """{"k":2,"v":"b","seq":2}""",
      """{"k":2,"v":"b2","seq":3}"""))
    applyOnce()
    assert(Versioned.read(spark, s"$work/vt").select("k", "v")
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b2"))

    writeBatch("b2.json", Seq(
      """{"k":1,"v":"A","seq":9}""", """{"k":5,"v":"e","seq":9}"""))
    applyOnce()
    assert(Versioned.read(spark, s"$work/vt").select("k", "v")
      .as[(Long, String)].collect().toMap ==
      Map(1L -> "A", 2L -> "b2", 5L -> "e"))
    // the pre-batch-2 state is still readable: snapshot isolation +
    // time travel across streaming commits
    assert(Versioned.read(spark, s"$work/vt", asOf = Some(0L)).select("k", "v")
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b2"))
    assert(Versioned.history(spark, s"$work/vt").length == 2)
  }

  test("kafka-shaped stream: envelope → decode → clean → sink runs as ONE streaming query") {
    // The S4 execution rehearsal (zero-egress: no broker can exist, so a
    // MemoryStream stands in for the topic): records enter as the exact
    // (key, value, timestamp) relation format("kafka").load() emits,
    // flow through Kafka.decode under the declared schema, the SAME
    // batch cleaner, and a streaming sink — one running query end to
    // end, not a pure-function round-trip.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Kafka
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val work = tmpDir()
    Emulator.write(s"$work/raw", n = 200, seed = 91L)
    val raw = Sources.json(spark, s"$work/raw/pin", Schemas.rawPin)
    // what the producer publishes: the envelope of each raw record,
    // stamped with a broker ingest time (fixed base + offset)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val published = Kafka.envelope(raw, "index").collect().zipWithIndex.map {
      case (r, i) => (r.getString(0), r.getString(1), new java.sql.Timestamp(base + i * 1000L))
    }
    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    mem.addData(published.toIndexedSeq: _*)

    val records = mem.toDF().toDF("key", "value", "timestamp")
    val cleaned = Cleaners.pin(Kafka.decode(records, Schemas.rawPin))
    val q = cleaned.writeStream.format("memory").queryName("kafka_rt_test")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("kafka_rt_test")
    val batch = Cleaners.pin(raw)
    assert(streamed.count() == 200)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("kafka_ts watermark finalizes closed windows and holds open ones") {
    // The watermark column is the broker ingest time surfaced by
    // Kafka.decode — the declared S4 posture when the payload has no
    // event time. Append mode makes the watermark OBSERVABLE: a window
    // emits only once the watermark passes its close, so the assertions
    // below fail if kafka_ts stops driving eviction.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Kafka
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def rec(cat: String, ts: String): (String, String, java.sql.Timestamp) =
      ("1", s"""{"index":1,"category":"$cat"}""", java.sql.Timestamp.valueOf(ts))

    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    val records = mem.toDF().toDF("key", "value", "timestamp")
    val counts = Kafka.decode(records, Schemas.rawPin)
      .withWatermark("kafka_ts", "10 minutes")
      .groupBy(window(col("kafka_ts"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("category"), col("n"))
    val q = counts.writeStream.format("memory").queryName("kafka_wm_test")
      .outputMode("append").start()

    // hour-0 records only: watermark (max - 10 min) is still inside
    // hour 0, so no window may emit
    mem.addData(rec("art", "2024-01-01 00:05:00"), rec("art", "2024-01-01 00:20:00"),
      rec("diy", "2024-01-01 00:40:00"))
    q.processAllAvailable()
    assert(spark.table("kafka_wm_test").isEmpty,
      "no window is closed yet — nothing may emit")

    // an hour-2 record advances the watermark past hour 0's close:
    // hour-0 windows finalize and emit; hour-2's window stays open
    mem.addData(rec("art", "2024-01-01 02:30:00"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("kafka_wm_test")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(out == Set(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "art", 2L),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "diy", 1L)))
  }

  test("stream-static join windowed category counts match batch") {
    val work = tmpDir()
    Emulator.write(s"$work/raw", n = 200, seed = 41L)
    val pinStatic = Cleaners.pin(Sources.json(spark, s"$work/raw/pin", Schemas.rawPin))

    val geoStream = Cleaners.geo(
      Sources.jsonStream(spark, s"$work/raw/geo", Schemas.rawGeo))
    StreamJobs.toMemorySink(
      StreamJobs.windowedCategoryCounts(geoStream, pinStatic), "windowed_cat_test")
      .awaitTermination()
    val streamed = spark.table("windowed_cat_test")

    val geoBatch = Cleaners.geo(Sources.json(spark, s"$work/raw/geo", Schemas.rawGeo))
    val batch = StreamJobs.windowedCategoryCounts(geoBatch, pinStatic)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming curation gates a document stream, batch-parity with the funnel's row-local stages") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "n_chars")
    val rows = docs.as[(Long, String, Long)].collect()
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData(rows.toIndexedSeq: _*)

    val stream = mem.toDF().toDF("doc_id", "text", "n_chars")
    val q = StreamJobs.curateStream(stream)
      .writeStream.format("memory").queryName("curate_test")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("curate_test")

    val batch = StreamJobs.curateStream(docs)
    // the stream must actually gate (not pass everything), keep
    // something, and agree row-for-row with the batch application
    assert(streamed.count() > 0 && streamed.count() < docs.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming mixture: epoch fan-out on an unbounded stream, batch parity, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val rows = docs.as[(Long, String, String)].collect()
    val w = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.5)

    def deliver(name: String): org.apache.spark.sql.DataFrame = {
      val mem = MemoryStream[(Long, String, String)]
      mem.addData(rows.toIndexedSeq: _*)
      val stream = mem.toDF().toDF("doc_id", "source", "text")
      val q = StreamJobs.mixStream(stream, col("source"), col("doc_id"), w)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      spark.table(name).select("doc_id", "source", "epoch")
    }

    val streamed = deliver("mix_test")
    val batch = graft.operators.Corpus.mixtureSample(docs, col("source"), col("doc_id"), w)
      .select("doc_id", "source", "epoch")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming mixture diverged from the batch operator")
    // a re-delivery derives exactly the same epochs (no rand(), no state)
    val again = deliver("mix_test2")
    assert(streamed.exceptAll(again).isEmpty && again.exceptAll(streamed).isEmpty,
      "replay produced different epochs")
  }

  test("stateful streaming curation: micro-batches accumulate state ≡ full recompute; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.Curation
    import graft.sources.Versioned

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "n_chars")
    val rows = docs.as[(Long, String, Long)].collect().sortBy(_._1)
    val (b1, b2) = rows.partition(_._1 < 250)
    val work = tmpDir()
    val state = s"$work/curation_state"
    // fresh checkpoint per delivery: each delivery is a new MemoryStream
    // source, and the replay-safety under test is Curation's norm
    // anti-join, not checkpoint offset tracking
    var nIngest = 0

    def ingest(batch: Seq[(Long, String, Long)]): Unit = {
      nIngest += 1
      val mem = MemoryStream[(Long, String, Long)]
      mem.addData(batch.toIndexedSeq: _*)
      StreamJobs.curateStreamIncremental(
        mem.toDF().toDF("doc_id", "text", "n_chars"), state, s"$work/ckpt$nIngest")
        .awaitTermination()
    }

    ingest(b1.toSeq)
    ingest(b2.toSeq)
    val streamed = Curation.survivors(spark, state)
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    val full = Curation.fullCurate(docs)
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(streamed == full,
      "streaming micro-batch curation diverged from the full recompute")

    // replay: re-delivering batch 2 (fresh checkpoint, same docs) must
    // commit an EMPTY version — every surviving norm is already a keeper
    val vBefore = Versioned.latestVersion(spark, s"$state/candidates")
    ingest(b2.toSeq)
    assert(Versioned.latestVersion(spark, s"$state/candidates") == vBefore + 1)
    assert(Versioned.read(spark, s"$state/candidates").count() ==
      Versioned.read(spark, s"$state/candidates", Some(vBefore)).count(),
      "replayed batch must add zero candidates")
    assert(Curation.survivors(spark, state)
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq == full)
  }

  test("streaming ANN probe: deliveries ≡ one batch probe; answers ride the version pinned at start") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity

    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val work = tmpDir()
    val idx = s"$work/ivf"
    Index.build(Index.IvfSpec(nCentroids = 8), Index.Vectors(e), idx): Unit

    val qRows = e.filter(col("id") < 12)
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    var n = 0
    def deliver(rows: Seq[(Long, Array[Float])], out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, Array[Float])]
      mem.addData(rows.toIndexedSeq: _*)
      StreamJobs.annProbeStream(mem.toDF().toDF("id", "vec"), idx,
        out, s"$work/ckpt$n", k = 5, nProbes = 8).awaitTermination()
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.select("query_id", "cand_id", "sim")
        .as[(Long, Long, Double)].collect().sorted.toSeq

    // two deliveries accumulate to exactly the one-shot batch probe
    val (d1, d2) = qRows.partition(_._1 < 6)
    deliver(d1, s"$work/out1")
    deliver(d2, s"$work/out1")
    val batchProbe = Similarity.queryIvfIndex(
      spark, idx, e.filter(col("id") < 12), k = 5, nProbes = 8)
    assert(rows(spark.read.parquet(s"$work/out1")) == rows(batchProbe),
      "streamed probes diverged from the batch probe")

    // append new vectors (same vectors, shifted ids): a stream started
    // AFTER the append answers from the appended snapshot...
    val batch = e.select((col("id") + 500000L).as("id"), col("vec"))
    Index.append(Index.Vectors(batch), idx): Unit
    deliver(d1, s"$work/out2")
    assert(rows(spark.read.parquet(s"$work/out2"))
        .exists { case (_, cid, _) => cid >= 500000L },
      "post-append stream must reach the appended vectors")
    // ...while the pre-append stream's answers (pinned at v0) did not
    assert(!rows(spark.read.parquet(s"$work/out1"))
        .exists { case (_, cid, _) => cid >= 500000L })
  }

  test("streaming ANN probe: an index wedged by a crashed append refuses " +
      "at stream start, naming the repair") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.sources.Versioned

    val work = tmpDir()
    val idx = s"$work/ivf"
    val pool = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.7f, 0.7f)))
    Index.build(Index.IvfSpec(nCentroids = 2),
      Index.Vectors(pool.toDF("id", "vec")), idx): Unit
    // crash between an append's two commits: the identical centroids
    // re-committed, the batch's assignment never landed
    Versioned.overwrite(Versioned.read(spark, s"$idx/centroids"),
      s"$idx/centroids"): Unit
    val mem = MemoryStream[(Long, Seq[Float])]
    mem.addData(pool.take(1): _*)
    val e = intercept[IllegalArgumentException] {
      StreamJobs.annProbeStream(mem.toDF().toDF("id", "vec"), idx,
        s"$work/out", s"$work/ckpt", k = 2, nProbes = 2)
    }
    assert(e.getMessage.contains("out of lockstep") &&
      e.getMessage.contains("repairIvfIndex"), e.getMessage)
  }

  test("streaming doc-signals sheet: replayed corpus accumulates to exactly the batch q136 sheet") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.Corpus

    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val work = tmpDir()
    val state = s"$work/sig"
    assert(Corpus.buildSignalState(docs, col("doc_id"), col("text"), state) == 0L)

    val rows = docs.select(col("doc_id"), col("text"),
        col("n_chars").cast("long"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    var n = 0
    def deliver(batch: Seq[(Long, String, Long)], out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, String, Long)]
      mem.addData(batch.toIndexedSeq: _*)
      StreamJobs.signalSheetStream(
        mem.toDF().toDF("doc_id", "text", "n_chars"), state,
        out, s"$work/ckpt$n").awaitTermination()
    }
    // two deliveries splitting the corpus accumulate to the batch sheet
    val (d1, d2) = rows.partition(_._1 % 2 == 0)
    deliver(d1, s"$work/out")
    deliver(d2, s"$work/out")
    val streamed = spark.read.parquet(s"$work/out")
      .drop("run_id", "batch_id")
    val batchSheet = PipelineQueries.q136SignalSheet(spark, dir)
    assert(streamed.count() == batchSheet.count())
    val cols = batchSheet.columns.map(col).toSeq
    val s = streamed.select(cols: _*)
    assert(s.exceptAll(batchSheet).isEmpty && batchSheet.exceptAll(s).isEmpty,
      "streamed sheet diverged from the batch sheet on a replayed corpus")
  }

  test("streaming observe: every micro-batch's progress carries the quality counters") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.Audit

    val work = tmpDir()
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, null), (3L, "c"))
    val ms = Audit.qualityMetrics(Seq("v"))
    val q = mem.toDF().toDF("id", "v")
      .observe("gate", ms.head, ms.tail: _*)
      .writeStream
      .format("parquet").option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("gate")))
    assert(observed.nonEmpty, "no progress event carried the gate metrics")
    assert(observed.map(_.getAs[Long]("rows")).sum == 3L)
    assert(observed.map(_.getAs[Long]("v_nulls")).sum == 1L)
  }

  test("idempotent foreachBatch sink: a redelivered batch replaces its prior output; distinct streams accumulate") {
    import spark.implicits._
    val work = tmpDir()
    val out = s"$work/out"
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    // batch 0 written, then redelivered (crash between output and
    // checkpoint commit) — the replay must overwrite, not append
    StreamJobs.writeBatchIdempotent(a, s"$work/ckptA", 0L, out)
    StreamJobs.writeBatchIdempotent(a, s"$work/ckptA", 0L, out)
    assert(spark.read.parquet(out).count() == 2,
      "replayed batch 0 must replace its own partition")
    // a different stream (different checkpoint) also emitting batch 0
    // accumulates instead of clobbering
    val b = Seq((3L, "z")).toDF("id", "v")
    StreamJobs.writeBatchIdempotent(b, s"$work/ckptB", 0L, out)
    assert(spark.read.parquet(out).count() == 3,
      "a second stream's batch 0 must land beside the first stream's")
  }

  test("streaming BM25 search: deliveries ≡ one batch pass; rankings ride the index version pinned at start") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.Retrieval

    val work = tmpDir()
    val idx = s"$work/bm25"
    val docsA = Seq((1L, "spark shuffle join"), (2L, "rare spark spark"),
      (3L, "join join shuffle"), (4L, "nothing here")).toDF("doc_id", "text")
    assert(Index.build(Index.Bm25Spec(),
      Index.Text(docsA, col("doc_id"), col("text")), idx) == 0L)

    val queries = Seq((10L, Seq("spark", "rare")), (11L, Seq("join")))
    var n = 0
    def deliver(rows: Seq[(Long, Seq[String])], out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, Seq[String])]
      mem.addData(rows.toIndexedSeq: _*)
      StreamJobs.searchStream(mem.toDF().toDF("query_id", "terms"), idx,
        out, s"$work/sckpt$n").awaitTermination()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "n_terms", "score")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

    // two deliveries accumulate to exactly the one-shot batch pass
    deliver(queries.take(1), s"$work/sout1")
    deliver(queries.drop(1), s"$work/sout1")
    val batch = Retrieval.queryBm25IndexMany(spark, idx,
      queries.toDF("query_id", "terms"), k = 10)
    assert(rows(spark.read.parquet(s"$work/sout1")) == rows(batch),
      "streamed rankings diverged from the batch pass")

    // append new documents: a stream started AFTER the append reaches
    // them; the pre-append version still answers the old corpus
    val docsB = Seq((5L, "spark spark spark rare")).toDF("doc_id", "text")
    assert(Retrieval.appendToBm25Index(docsB, col("doc_id"), col("text"), idx) == 1L)
    deliver(queries.take(1), s"$work/sout2")
    assert(rows(spark.read.parquet(s"$work/sout2")).exists(_._2 == 5L),
      "post-append stream must reach the appended document")
    assert(rows(Retrieval.queryBm25IndexMany(spark, idx,
        queries.take(1).toDF("query_id", "terms"), k = 10, asOf = Some(0L))) ==
      rows(batch).filter(_._1 == 10L),
      "the pre-append version must still answer with the old corpus")
  }

  test("streaming hybrid search: deliveries ≡ the batch fusion; the " +
      "version-pinned pair reproduces after appends on both indexes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Retrieval, Similarity}

    val work = tmpDir()
    val bm25 = s"$work/bm25"
    val ivf = s"$work/ivf"
    val docs = Seq((1L, "spark shuffle join"), (2L, "rare spark spark"),
      (3L, "join join shuffle"), (4L, "nothing here")).toDF("doc_id", "text")
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.1)), (2L, Seq(0.9, 0.1, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.1, 0.0)), (4L, Seq(0.0, 0.0, 1.0, 0.9)))
      .toDF("id", "vec")
    assert(Index.build(Index.Bm25Spec(),
      Index.Text(docs, col("doc_id"), col("text")), bm25) == 0L)
    assert(Index.build(Index.IvfSpec(nCentroids = 2, lloydIters = 1),
      Index.Vectors(vecs), ivf) == 0L)

    val queries = Seq(
      (10L, Seq("spark", "rare"), Seq(1.0, 0.05, 0.0, 0.0)),
      (11L, Seq("join"), Seq(0.0, 0.1, 1.0, 0.8)))
    var n = 0
    def deliver(rows: Seq[(Long, Seq[String], Seq[Double])], out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, Seq[String], Seq[Double])]
      mem.addData(rows.toIndexedSeq: _*)
      StreamJobs.hybridStream(
        mem.toDF().toDF("query_id", "terms", "vec"),
        Hybrid(bm25, Ivf(ivf, nProbes = 2), kEach = 10),
        out, s"$work/hckpt$n", k = 10)
        .awaitTermination()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "n_rankers", "rrf")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

    // two deliveries accumulate to exactly the one-shot batch fusion
    deliver(queries.take(1), s"$work/hout1")
    deliver(queries.drop(1), s"$work/hout1")
    val batch = Retrieval.hybridSearch(spark, bm25, ivf,
      queries.toDF("query_id", "terms", "vec"), k = 10, kEach = 10, nProbes = 2)
    val expect = rows(batch)
    assert(expect.exists(_._3 == 2L),
      "fixture must exercise a doc found by BOTH rankers")
    assert(rows(spark.read.parquet(s"$work/hout1")) == expect,
      "streamed fusion diverged from the batch pass")

    // append a doc to BOTH indexes: a stream started after sees it;
    // the pinned (0,0) pair still reproduces the original fusion
    assert(Retrieval.appendToBm25Index(
      Seq((5L, "spark spark rare join")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), bm25) == 1L)
    assert(Index.append(Index.Vectors(Seq((5L, Seq(0.95, 0.05, 0.0,
      0.05))).toDF("id", "vec")), ivf) == 1L)
    deliver(queries.take(1), s"$work/hout2")
    assert(rows(spark.read.parquet(s"$work/hout2")).exists(_._2 == 5L),
      "post-append stream must reach the appended doc through both arms")
    assert(rows(Retrieval.hybridSearch(spark, bm25, ivf,
        queries.take(1).toDF("query_id", "terms", "vec"), k = 10, kEach = 10,
        nProbes = 2, bm25AsOf = Some(0L), ivfAsOf = Some(0L))) ==
      expect.filter(_._1 == 10L),
      "the pinned index pair must reproduce the pre-append fusion")
  }

  test("streaming FILTERED hybrid search: deliveries ≡ the gated batch " +
      "fusion, every delivered doc passes the gate, and an un-baked " +
      "predicate refuses at stream start — never mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Retrieval, Similarity}

    val work = tmpDir()
    val bm25 = s"$work/bm25"
    val ivf = s"$work/ivf"
    val docs = Seq(
      (1L, "spark shuffle join", "en"), (2L, "rare spark spark", "fr"),
      (3L, "join join shuffle", "en"), (4L, "nothing here", "de"))
      .toDF("doc_id", "text", "lang")
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.1), "en"), (2L, Seq(0.9, 0.1, 0.0, 0.0), "fr"),
      (3L, Seq(0.0, 1.0, 0.1, 0.0), "en"), (4L, Seq(0.0, 0.0, 1.0, 0.9), "de"))
      .toDF("id", "vec", "lang")
    assert(Index.build(Index.Bm25Spec(metaCols = Seq("lang")),
      Index.Text(docs, col("doc_id"), col("text")), bm25) == 0L)
    assert(Index.build(Index.IvfSpec(nCentroids = 2, lloydIters = 1,
      metaCols = Seq("lang")),
      Index.Vectors(vecs), ivf) == 0L)

    val queries = Seq(
      (10L, Seq("spark", "rare"), Seq(1.0, 0.05, 0.0, 0.0)),
      (11L, Seq("join"), Seq(0.0, 0.1, 1.0, 0.8)))
    var n = 0
    def deliver(rows: Seq[(Long, Seq[String], Seq[Double])], out: String,
                pred: org.apache.spark.sql.Column): Unit = {
      n += 1
      val mem = MemoryStream[(Long, Seq[String], Seq[Double])]
      mem.addData(rows.toIndexedSeq: _*)
      StreamJobs.hybridStream(
        mem.toDF().toDF("query_id", "terms", "vec"),
        Hybrid(bm25, Ivf(ivf, nProbes = 2), predicate = Some(pred),
          kEach = 10), out, s"$work/fckpt$n", k = 10)
        .awaitTermination()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "n_rankers", "rrf")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

    deliver(queries.take(1), s"$work/fout1", col("lang") === "en")
    deliver(queries.drop(1), s"$work/fout1", col("lang") === "en")
    val expect = rows(Retrieval.hybrid(spark,
      Hybrid(bm25, Ivf(ivf, nProbes = 2),
        predicate = Some(col("lang") === "en"), kEach = 10),
      queries.toDF("query_id", "terms", "vec"), k = 10))
    assert(expect.nonEmpty && expect.forall(r => Set(1L, 3L)(r._2)),
      "the gated batch fusion must return only EN docs")
    assert(rows(spark.read.parquet(s"$work/fout1")) == expect,
      "streamed gated fusion diverged from the batch pass")

    // an un-baked predicate refuses BEFORE the stream starts (the first
    // micro-batch is the worst place to learn the gate cannot resolve)
    val err = intercept[IllegalArgumentException] {
      val mem = MemoryStream[(Long, Seq[String], Seq[Double])]
      mem.addData(queries.head)
      StreamJobs.hybridStream(
        mem.toDF().toDF("query_id", "terms", "vec"),
        Hybrid(bm25, Ivf(ivf), predicate = Some(col("license") === "mit")),
        s"$work/fout2", s"$work/fckptX")
    }
    assert(err.getMessage.contains("metaCols"))
  }

  test("streaming chunk-grain hybrid: deliveries ≡ the batch span fusion; " +
      "appends on both chunk indexes reach a new span while the pinned " +
      "pair reproduces") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Corpus, Retrieval}

    val work = tmpDir()
    val bmDir = s"$work/cbm25"
    val ivDir = s"$work/civf"
    val filler = (1L to 4L).map(i => (i, Seq.fill(40)("filler").mkString(" ")))
    val planted = (5L,
      (Seq.fill(16)("pad") ++ Seq("zebra", "quark", "xylem") ++
        Seq.fill(29)("pad")).mkString(" "))
    val docs = (filler :+ planted).toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(Index.Chunks(16, 8)),
      Index.Text(docs, col("doc_id"), col("text")), bmDir): Unit
    Index.build(Index.IvfSpec(Index.Chunks(16, 8), dim = 16, nCentroids = 4),
      Index.Text(docs, col("doc_id"), col("text")), ivDir): Unit

    def withVecs(qs: Seq[(Long, Seq[String])]) = {
      val raw = qs.toDF("query_id", "terms")
      raw.join(Corpus.hashEmbed(raw, col("query_id"),
          concat_ws(" ", col("terms")), dim = 16)
        .withColumnRenamed("id", "query_id"), Seq("query_id"))
    }
    val queries = Seq((900L, Seq("zebra", "quark", "xylem")),
      (901L, Seq("filler")))
    // query vectors precomputed by the batch encoder and shipped AS
    // DATA on the stream (embedding the query is the client's/feature
    // service's job — a streaming aggregation would need a watermark)
    val qvecs = withVecs(queries)
      .select("query_id", "terms", "vec")
      .as[(Long, Seq[String], Seq[Double])].collect().toSeq
    var n = 0
    def deliver(ids: Seq[Long], out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, Seq[String], Seq[Double])]
      mem.addData(qvecs.filter(q => ids.contains(q._1)).toIndexedSeq: _*)
      StreamJobs.hybridStream(
        mem.toDF().toDF("query_id", "terms", "vec"),
        Hybrid(bmDir, Ivf(ivDir, nProbes = 4), kEach = 10),
        out, s"$work/cckpt$n", k = 5)
        .awaitTermination()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "chunk_start", "n_rankers", "rrf")
        .as[(Long, Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2, r._3)).toSeq

    deliver(Seq(900L), s"$work/cout1")
    deliver(Seq(901L), s"$work/cout1")
    val batch = Retrieval.hybrid(spark,
      Hybrid(bmDir, Ivf(ivDir, nProbes = 4), kEach = 10),
      withVecs(queries), k = 5)
    val expect = rows(batch)
    assert(expect.exists(r => r._2 == 5L && r._4 == 2L),
      "the planted span must arrive through BOTH arms")
    assert(rows(spark.read.parquet(s"$work/cout1")) == expect,
      "streamed span fusion diverged from the batch pass")

    // append a new doc carrying the planted terms to BOTH chunk
    // indexes (grids from the sidecars): a fresh stream reaches its
    // span; the pinned (0,0) pair reproduces the original fusion
    val batchDocs = Seq((6L, "zebra quark xylem tail tail"))
      .toDF("doc_id", "text")
    Index.append(Index.Text(batchDocs, col("doc_id"),
        col("text")), bmDir): Unit
    Index.append(Index.Text(batchDocs, col("doc_id"),
        col("text")), ivDir): Unit
    deliver(Seq(900L), s"$work/cout2")
    assert(rows(spark.read.parquet(s"$work/cout2"))
      .exists(r => r._2 == 6L && r._3 == 1L),
      "post-append stream must surface the appended doc's span")
    assert(rows(Retrieval.hybrid(spark,
        Hybrid(bmDir, Ivf(ivDir, nProbes = 4, asOf = Some(0L)),
          bm25AsOf = Some(0L), kEach = 10),
        withVecs(queries.take(1)), k = 5)) ==
      expect.filter(_._1 == 900L),
      "the pinned chunk-index pair must reproduce the pre-append fusion")
  }

  test("streaming COMPRESSED chunk hybrid: deliveries ≡ the batch PQ+rerank " +
      "span fusion; an append on the PQ triple reaches a new span while " +
      "the pinned pair reproduces") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Corpus, Retrieval}

    val work = tmpDir()
    val bmDir = s"$work/pqbm25"
    val pqDir = s"$work/pqidx"
    val filler = (1L to 4L).map(i => (i, Seq.fill(40)("filler").mkString(" ")))
    val planted = (5L,
      (Seq.fill(16)("pad") ++ Seq("zebra", "quark", "xylem") ++
        Seq.fill(29)("pad")).mkString(" "))
    val docs = (filler :+ planted).toDF("doc_id", "text")
    Index.build(Index.Bm25Spec(Index.Chunks(16, 8)),
      Index.Text(docs, col("doc_id"), col("text")), bmDir): Unit
    Index.build(Index.PqSpec(Index.Chunks(16, 8), dim = 16, nCentroids = 4,
      m = 4, ks = 8),
      Index.Text(docs, col("doc_id"), col("text")), pqDir): Unit

    def withVecs(qs: Seq[(Long, Seq[String])]) = {
      val raw = qs.toDF("query_id", "terms")
      raw.join(Corpus.hashEmbed(raw, col("query_id"),
          concat_ws(" ", col("terms")), dim = 16)
        .withColumnRenamed("id", "query_id"), Seq("query_id"))
    }
    val queries = Seq((900L, Seq("zebra", "quark", "xylem")),
      (901L, Seq("filler")))
    val qvecs = withVecs(queries)
      .select("query_id", "terms", "vec")
      .as[(Long, Seq[String], Seq[Double])].collect().toSeq
    var n = 0
    def deliver(ids: Seq[Long], out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, Seq[String], Seq[Double])]
      mem.addData(qvecs.filter(q => ids.contains(q._1)).toIndexedSeq: _*)
      StreamJobs.hybridStream(
        mem.toDF().toDF("query_id", "terms", "vec"),
        Hybrid(bmDir, Pq(pqDir, alpha = Some(8), nProbes = 4, m = 4, ks = 8,
          dim = 16), kEach = 10),
        out, s"$work/pqckpt$n", k = 5)
        .awaitTermination()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "chunk_start", "n_rankers", "rrf")
        .as[(Long, Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2, r._3)).toSeq

    deliver(Seq(900L), s"$work/pqout1")
    deliver(Seq(901L), s"$work/pqout1")
    val batch = Retrieval.hybrid(spark,
      Hybrid(bmDir, Pq(pqDir, alpha = Some(8), nProbes = 4, m = 4, ks = 8,
        dim = 16), kEach = 10),
      withVecs(queries), k = 5)
    val expect = rows(batch)
    assert(expect.exists(r => r._2 == 5L && r._4 == 2L),
      "the planted span must arrive through BOTH arms")
    assert(rows(spark.read.parquet(s"$work/pqout1")) == expect,
      "streamed PQ span fusion diverged from the batch pass")

    // append to BOTH (the PQ triple encodes on the frozen codebook): a
    // fresh stream reaches the new span; the pinned (0,0) pair
    // reproduces
    val batchDocs = Seq((6L, "zebra quark xylem tail tail"))
      .toDF("doc_id", "text")
    Index.append(Index.Text(batchDocs, col("doc_id"),
        col("text")), bmDir): Unit
    Index.append(Index.Text(batchDocs, col("doc_id"),
        col("text")), pqDir): Unit
    deliver(Seq(900L), s"$work/pqout2")
    assert(rows(spark.read.parquet(s"$work/pqout2"))
      .exists(r => r._2 == 6L && r._3 == 1L),
      "post-append stream must surface the appended doc's span")
    assert(rows(Retrieval.hybrid(spark,
        Hybrid(bmDir, Pq(pqDir, alpha = Some(8), nProbes = 4, m = 4, ks = 8,
          dim = 16, asOf = Some(0L)), bm25AsOf = Some(0L), kEach = 10),
        withVecs(queries.take(1)), k = 5)) ==
      expect.filter(_._1 == 900L),
      "the pinned index pair must reproduce the pre-append fusion")
  }

  test("streaming classification: deliveries ≡ one batch scoring pass; predictions ride the model version pinned at start") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.Corpus

    val work = tmpDir()
    val mdl = s"$work/nb"
    val train = Seq(("X", "xx yy"), ("X", "xx xx"), ("Y", "qq rr"), ("Y", "rr rr"))
      .toDF("label", "text")
    assert(Corpus.buildNbModel(train, col("label"), col("text"), mdl,
      buckets = 512) == 0L)

    val docs = Seq((1L, "xx xx"), (2L, "qq rr"), (3L, "yy xx yy"), (4L, "rr"))
    var n = 0
    def deliver(rows: Seq[(Long, String)], out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, String)]
      mem.addData(rows.toIndexedSeq: _*)
      StreamJobs.classifyStream(mem.toDF().toDF("doc_id", "text"), mdl,
        out, s"$work/ckpt$n").awaitTermination()
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Double)] =
      df.select("doc_id", "predicted", "score")
        .as[(Long, String, Double)].collect().sortBy(_._1).toSeq

    // two deliveries accumulate to exactly the one-shot batch scoring
    val (d1, d2) = docs.partition(_._1 <= 2)
    deliver(d1, s"$work/out1")
    deliver(d2, s"$work/out1")
    val batch = Corpus.scoreWithNbModel(spark, mdl,
      docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
    assert(rows(spark.read.parquet(s"$work/out1")) == rows(batch),
      "streamed predictions diverged from the batch scoring pass")

    // retrain with swapped labels: a stream started AFTER the retrain
    // answers from the new model...
    val swapped = train.withColumn("label",
      when(col("label") === "X", "Y").otherwise("X"))
    assert(Corpus.buildNbModel(swapped, col("label"), col("text"), mdl,
      buckets = 512) == 1L)
    deliver(d1, s"$work/out2")
    assert(rows(spark.read.parquet(s"$work/out2")).map(_._2) == Seq("Y", "X"),
      "post-retrain stream must score with the retrained model")
    // ...while asOf the original version still gives the old answers
    val pinned = Corpus.scoreWithNbModel(spark, mdl,
      d1.toDF("doc_id", "text"), col("doc_id"), col("text"), asOf = Some(0L))
    assert(rows(pinned).map(_._2) == Seq("X", "Y"))
  }

  test("assembleContextModelTokensStream: deliveries ≡ the batch pack " +
      "bit-for-bit under the pinned (forward, tokenizer) versions — a " +
      "BPE retrain never rewrites an in-flight stream's packs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Retrieval

    val work = tmpDir()
    // every word is the type "abcabc": with k = 40 the char-level model
    // merges it to ONE id (8 ids per 8-word span); with k = 1 only the
    // first pair merges (4 ids per word — 32 per span), so a 40-id
    // budget packs BOTH spans under v0 and only one under v1: the
    // retrain is observable in the pack, which is what makes the
    // pinning assertions non-vacuous
    val docs = Seq((1L, Seq.fill(8)("abcabc").mkString(" ")),
        (2L, Seq.fill(8)("abcabc").mkString(" ")))
      .toDF("doc_id", "text")
    Index.build(Index.ForwardSpec(),
      Index.Text(docs, col("doc_id"), col("text")), s"$work/fwd"): Unit
    graft.operators.Bpe.buildBpeModel(docs, col("text"), k = 40,
      s"$work/bpe"): Unit

    val fused = Seq((1L, 1L, 1L, 0.9), (1L, 2L, 1L, 0.8))
    def pack(modelV: Long) = Retrieval.assembleContextModelTokens(spark,
      fused.toDF("query_id", "doc_id", "chunk_start", "rrf"),
      s"$work/fwd", s"$work/bpe", size = 8, budget = 40, maxPerDoc = 4,
      modelAsOf = Some(modelV), asOf = Some(0L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "span_start", "span_end",
          "n_chunks", "score", "n_model_tok", "cum_tok")
        .as[(Long, Long, Long, Long, Long, Double, Long, Long)]
        .collect().sortBy(r => (r._1, r._2, r._3)).toSeq
    val batchV0 = rows(pack(0L))
    assert(batchV0.size == 2)

    var n = 0
    def deliver(out: String): Unit = {
      n += 1
      val mem = MemoryStream[(Long, Long, Long, Double)]
      mem.addData(fused.toIndexedSeq: _*)
      StreamJobs.assembleContextModelTokensStream(
        mem.toDF().toDF("query_id", "doc_id", "chunk_start", "rrf"),
        s"$work/fwd", s"$work/bpe", out, s"$work/mtck$n",
        size = 8, budget = 40, maxPerDoc = 4).awaitTermination()
    }
    deliver(s"$work/mtout1")
    assert(rows(spark.read.parquet(s"$work/mtout1")) == batchV0,
      "streamed model-token pack diverged from the batch pass")

    // retrain with a coarser model — the same ranking now overflows the
    // id budget after one span
    graft.operators.Bpe.buildBpeModel(docs, col("text"), k = 1,
      s"$work/bpe"): Unit
    val batchV1 = rows(pack(1L))
    assert(batchV1.size == 1 && batchV1 != batchV0,
      s"the retrain must change the pack (fixture bug otherwise): $batchV1")
    // a stream started AFTER the retrain pins — and packs with — v1
    deliver(s"$work/mtout2")
    assert(rows(spark.read.parquet(s"$work/mtout2")) == batchV1,
      "post-retrain stream must count with the retrained tokenizer")
    // and the pre-retrain delivery still reproduces bit-for-bit under
    // its pinned version — the retrain never rewrote an in-flight pack
    assert(rows(spark.read.parquet(s"$work/mtout1")) == batchV0)
  }
}
