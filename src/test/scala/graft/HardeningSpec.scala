package graft

import graft.operators.Index
import java.nio.file.Files
import org.apache.hadoop.fs.{FilterFileSystem, Path}
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Maintenance, Publish, Upsert}

/** Failure-path hardening (round-5 ADVICE items): the publish swap must
  * never lose the only copy, non-convergence must never return wrong
  * clusters, duplicate update keys must never fan out a merge, and the
  * relation cache must never serve a rewritten path stale.
  */
class HardeningSpec extends SparkSpec {

  import spark.implicits._

  private def hfs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // -------------------------------------------------------------------
  // Publish.swap

  test("publish swap: failed staging rename rolls back — live data survives") {
    val base = Files.createTempDirectory("graft-swap").toString
    val fs = hfs(base)
    val live = new Path(s"$base/live")
    val staging = new Path(s"$base/stage")
    Seq((1L, "old")).toDF("k", "v").write.parquet(live.toString)
    Seq((2L, "new")).toDF("k", "v").write.parquet(staging.toString)

    // object-store behavior: rename FAILS (returns false, no throw)
    // exactly when moving the staging dir into place — after the live
    // dir was already renamed aside
    val failing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName == "stage") false else super.rename(src, dst)
    }
    val e = intercept[IllegalStateException] { Publish.swap(failing, staging, live) }
    assert(e.getMessage.contains("original left in place"))
    // the pre-swap data is BACK under the live name, readable, intact
    assert(spark.read.parquet(live.toString).as[(Long, String)].collect().toSeq ==
      Seq((1L, "old")))
    // nothing lost: staging still holds the new data for a retry
    assert(fs.exists(staging))
    // retry with a healthy fs completes the swap
    Publish.swap(fs, staging, live)
    assert(spark.read.parquet(live.toString).as[(Long, String)].collect().toSeq ==
      Seq((2L, "new")))
    assert(!fs.exists(Publish.retired(live)))
  }

  test("publish swap: crash-window state (only .old exists) refuses to proceed") {
    val base = Files.createTempDirectory("graft-swap2").toString
    val fs = hfs(base)
    val live = new Path(s"$base/live")
    val staging = new Path(s"$base/stage")
    Seq((9L, "x")).toDF("k", "v").write.parquet(staging.toString)
    // simulate a crash between step 1 and step 2 of a previous swap:
    // the only copy sits under the retired name
    Seq((1L, "survivor")).toDF("k", "v").write.parquet(Publish.retired(live).toString)
    val e = intercept[IllegalStateException] { Publish.swap(fs, staging, live) }
    assert(e.getMessage.contains("recover it first"))
    // the survivor copy was not touched
    assert(spark.read.parquet(Publish.retired(live).toString)
      .as[(Long, String)].collect().toSeq == Seq((1L, "survivor")))
  }

  test("compactPartition survives a failure mid-publish (partition never lost)") {
    val base = Files.createTempDirectory("graft-pswap").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
    graft.sources.Sinks.parquet(events.repartition(8), s"$base/t", partitionBy = Seq("day"))
    val target = new java.io.File(s"$base/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day=")).map(_.getName).min
    val before = spark.read.parquet(s"$base/t/$target").count()
    assert(before > 0)
    // fail exactly the staging→partition rename (step 2 of the swap),
    // after the live partition has already moved aside — the worst
    // moment — and prove rollback restores it
    val fs = hfs(base)
    val part = new Path(s"$base/t/$target")
    val failing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName.startsWith(".compact-staging-")) false
        else super.rename(src, dst)
    }
    val staging = new Path(s"$base/t/.compact-staging-$target")
    spark.read.parquet(part.toString).coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    intercept[IllegalStateException] { Publish.swap(failing, staging, part) }
    // the partition is still there with every row
    assert(spark.read.parquet(s"$base/t/$target").count() == before)
    // and the real compaction path still works end-to-end afterwards
    fs.delete(staging, true)
    Maintenance.compactPartition(spark, s"$base/t", target)
    assert(spark.read.parquet(s"$base/t/$target").count() == before)
  }

  // -------------------------------------------------------------------
  // Graph.connectedComponents convergence

  test("connectedComponents throws on non-convergence instead of wrong clusters") {
    val n = 25L
    val nodes = (1L to n).toDF("node")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    // a 25-node path needs ~24 rounds; the default 20 must REFUSE
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(nodes, edges)
    }
    assert(e.getMessage.contains("no fixpoint"))
    // with maxIter above the diameter the same graph converges fully
    val ok = Graph.connectedComponents(nodes, edges, maxIter = 30)
      .as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 1L))
  }

  // -------------------------------------------------------------------
  // Upsert.merge duplicate-key guard

  test("merge rejects duplicate update keys; orderCol resolves them without fan-out") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    val dups = Seq((2L, "B", 22.0), (2L, "C", 23.0), (9L, "z", 99.0)).toDF("k", "s", "v")
    // without an order column the IN-PLAN guard aborts at
    // materialization (no separate verification action) — the
    // alternative is a silently duplicated target row
    val e = intercept[Exception] {
      Upsert.merge(target, dups, Seq("k")).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("duplicate update key"))
    // with orderCol, highest wins and the key stays unique
    val merged = Upsert.merge(target, dups, Seq("k"), orderCol = Some("v"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(merged.toSeq == Seq((1L, "a", 10.0), (2L, "C", 23.0), (9L, "z", 99.0)))
  }

  // -------------------------------------------------------------------
  // Tables relation cache

  test("relation cache serves the same plan until invalidated, fresh after") {
    val base = Files.createTempDirectory("graft-cache").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$base/t.parquet")
    val first = Tables.table(spark, base, "t")
    assert(first.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // cache hit: the identical relation object, no re-listing
    assert(Tables.table(spark, base, "t") eq first)
    // rewrite the files under the path, then invalidate — the next read
    // must see the new data (stale file index dropped)
    Seq((2L, "b")).toDF("id", "s").write.mode("overwrite").parquet(s"$base/t.parquet")
    Tables.invalidate(s"$base/t.parquet")
    val second = Tables.table(spark, base, "t")
    assert(!(second eq first))
    assert(second.as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("paired Versioned artifacts refuse out-of-lockstep latest reads; pinned asOf survives") {
    import graft.operators.{Corpus, Similarity}
    import graft.sources.Versioned

    // NB model: a crashed build = one table advanced, the other not
    val mdir = Files.createTempDirectory("nb_lockstep").toString
    val train = Seq(("X", "xx xx"), ("Y", "qq qq")).toDF("label", "text")
    assert(Corpus.buildNbModel(train, col("label"), col("text"), mdir) == 0L)
    val intact = Corpus.scoreWithNbModel(spark, mdir,
        Seq((1L, "xx")).toDF("doc_id", "text"), col("doc_id"), col("text"))
      .select("predicted").as[String].head()
    assert(intact == "X")
    // simulate the crash window: model commits v1, priors never does
    Versioned.overwrite(
      Versioned.read(spark, s"$mdir/model"), s"$mdir/model"): Unit
    val e1 = intercept[IllegalArgumentException] {
      Corpus.scoreWithNbModel(spark, mdir,
        Seq((1L, "xx")).toDF("doc_id", "text"), col("doc_id"), col("text"))
    }
    assert(e1.getMessage.contains("out of lockstep"))
    // the intact historical pair still scores under a pinned asOf
    val pinned = Corpus.scoreWithNbModel(spark, mdir,
        Seq((1L, "xx")).toDF("doc_id", "text"), col("doc_id"), col("text"),
        asOf = Some(0L))
      .select("predicted").as[String].head()
    assert(pinned == "X")

    // IVF index: same discipline
    val idir = Files.createTempDirectory("ivf_lockstep").toString
    val pool = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.7f, 0.7f))).toDF("id", "vec")
    Index.build(Index.IvfSpec(nCentroids = 2),
      Index.Vectors(pool), idir): Unit
    Versioned.overwrite(
      Versioned.read(spark, s"$idir/assignment"), s"$idir/assignment"): Unit
    val e2 = intercept[IllegalArgumentException] {
      Similarity.queryIvfIndex(spark, idir,
        pool.filter(col("id") === 1), k = 2, nProbes = 2)
    }
    assert(e2.getMessage.contains("out of lockstep"))
    assert(Similarity.queryIvfIndex(spark, idir, pool.filter(col("id") === 1),
      k = 2, nProbes = 2, asOf = Some(0L)).count() == 2)
  }
}
