package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.graft.EngineListener
import graft.app.PinterestPipeline
import graft.clean.{Cleaners, Schemas}
import graft.queries.PinterestQueries
import graft.sources.{Emulator, Sources}

/** Reference-parity golden tests (SURVEY.md §5.2 layer 4): the five
  * README queries over a hand-computed fixture in deterministic declared
  * form (§7.3).
  */
class PinterestQueriesSpec extends SparkSpec {

  // 6 pins: categories art(×3: us,us,pe), diy(×2: us,us), travel(×1: pe)
  private lazy val pin = Cleaners.pin(spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1L, "u1", "t", "d", "Ada", "100", "x", "image", "i", 1L, "Local save in /data/art", "art"),
      Row(2L, "u2", "t", "d", "Ada", "250k", "x", "image", "i", 1L, "Local save in /data/art", "art"),
      Row(3L, "u3", "t", "d", "Bob", "2M", "x", "image", "i", 1L, "Local save in /data/art", "art"),
      Row(4L, "u4", "t", "d", "Bob", "50", "x", "image", "i", 1L, "Local save in /data/diy", "diy"),
      Row(5L, "u5", "t", "d", "Cyd", "75", "x", "image", "i", 1L, "Local save in /data/diy", "diy"),
      Row(6L, "u6", "t", "d", "Cyd", "9", "x", "image", "i", 1L, "Local save in /data/travel", "travel")),
    Schemas.rawPin))

  // us: pins 1,2,4,5 (2018); pe: pins 3,6 (2019)
  private lazy val geo = Cleaners.geo(spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1L, "United States", 1.0, 2.0, "2018-01-01 00:00:00"),
      Row(2L, "United States", 1.0, 2.0, "2018-06-01 00:00:00"),
      Row(3L, "Peru", 1.0, 2.0, "2019-01-01 00:00:00"),
      Row(4L, "United States", 1.0, 2.0, "2018-01-01 00:00:00"),
      Row(5L, "United States", 1.0, 2.0, "2018-01-01 00:00:00"),
      Row(6L, "Peru", 1.0, 2.0, "2019-06-01 00:00:00")),
    Schemas.rawGeo))

  // ages: 20 (18-24, pins 1,2), 30 (25-35, pins 3,4), 40 (36-50, pins 5,6)
  private lazy val user = Cleaners.user(spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1L, "Ann", "One", 20L, "2015-01-01 00:00:00"),
      Row(2L, "Ben", "Two", 20L, "2015-06-01 00:00:00"),
      Row(3L, "Cat", "Three", 30L, "2016-01-01 00:00:00"),
      Row(4L, "Dan", "Four", 30L, "2016-06-01 00:00:00"),
      Row(5L, "Eve", "Five", 40L, "2017-01-01 00:00:00"),
      Row(6L, "Fay", "Six", 40L, "2015-03-01 00:00:00")),
    Schemas.rawUser))

  test("Q1: top category per country, ties break lexicographically") {
    // us: art 2, diy 2 → tie → art; pe: art 1, travel 1 → tie → art
    val r = PinterestQueries.topCategoryByCountry(pin, geo)
      .orderBy("country").collect()
    assert(r.map(x => (x.getAs[String]("country"), x.getAs[String]("category"),
      x.getAs[Long]("category_count"))).toSeq ==
      Seq(("Peru", "art", 1L), ("United States", "art", 2L)))
  }

  test("Q2: top category per post year") {
    // 2018: art 2 vs diy 2 → art; 2019: art 1 vs travel 1 → art
    val r = PinterestQueries.topCategoryByYear(pin, geo)
      .orderBy("post_year").collect()
    assert(r.map(x => (x.getAs[Int]("post_year"), x.getAs[String]("category"))).toSeq ==
      Seq((2018, "art"), (2019, "art")))
  }

  test("Q3a: top follower USER (user_name, not pin poster_name) per country") {
    // The fixture's pin poster_names (Ada/Bob/Cyd) DIVERGE from the
    // cleaned user_names (AnnOne..FaySix), so this proves the USER
    // column drives the answer (reference README.md:517).
    // us: AnnOne 100, BenTwo 250000, DanFour 50, EveFive 75 → BenTwo
    // pe: CatThree 2000000, FaySix 9 → CatThree
    val r = PinterestQueries.topFollowersByCountry(pin, geo, user)
      .orderBy("country").collect()
    assert(r.map(x => (x.getAs[String]("country"), x.getAs[String]("poster_name"),
      x.getAs[Int]("follower_count"))).toSeq ==
      Seq(("Peru", "CatThree", 2000000), ("United States", "BenTwo", 250000)))
  }

  test("Q3a: ties break to the smallest user_name") {
    // Two US users (AnnOne, BenTwo) with the same max follower count
    // (100) → AnnOne wins, independent of input order.
    val tiedPin = Cleaners.pin(spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "u1", "t", "d", "Zed", "100", "x", "image", "i", 1L, "Local save in /data/art", "art"),
        Row(2L, "u2", "t", "d", "Abe", "100", "x", "image", "i", 1L, "Local save in /data/art", "art")),
      Schemas.rawPin))
    val tiedGeo = Cleaners.geo(spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "United States", 1.0, 2.0, "2018-01-01 00:00:00"),
        Row(2L, "United States", 1.0, 2.0, "2018-06-01 00:00:00")),
      Schemas.rawGeo))
    val r = PinterestQueries.topFollowersByCountry(tiedPin, tiedGeo, user).collect()
    assert(r.map(x => (x.getAs[String]("country"), x.getAs[String]("poster_name"),
      x.getAs[Int]("follower_count"))).toSeq ==
      Seq(("United States", "AnnOne", 100)))
  }

  test("Q3b: overall top country by its best poster") {
    val r = PinterestQueries.topFollowersOverall(pin, geo, user).collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("country") == "Peru")
    assert(r(0).getAs[Int]("follower_count") == 2000000)
  }

  test("Q4: top category per age range") {
    // 18-24 (pins 1,2): art 2 → art
    // 25-35 (pins 3,4): art 1, diy 1 → tie → art
    // 36-50 (pins 5,6): diy 1, travel 1 → tie → diy
    val r = PinterestQueries.topCategoryByAgeRange(pin, user)
      .orderBy("age_group").collect()
    assert(r.map(x => (x.getAs[String]("age_group"), x.getAs[String]("category"))).toSeq ==
      Seq(("18-24", "art"), ("25-35", "art"), ("36-50", "diy")))
  }

  test("Q5: users joined per year over the user table alone") {
    val r = PinterestQueries.usersJoinedPerYear(user).collect()
    assert(r.map(x => (x.getAs[Int]("join_year"), x.getAs[Long]("number_users_joined"))).toSeq ==
      Seq((2015, 3L), (2016, 2L), (2017, 1L)))
  }

  // ---- the batch job over emulator JSON: one parse per read ----------

  private def rawDir(n: Int, seed: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pinterest").toString
    Emulator.write(s"$dir/raw", n, seed)
    s"$dir/raw"
  }

  private def results(r: PinterestPipeline.Results): Seq[(String, DataFrame)] =
    Seq("q1" -> r.q1, "q2" -> r.q2, "q3a" -> r.q3a, "q3b" -> r.q3b,
      "q4" -> r.q4, "q5" -> r.q5)

  /** Bytes read through the Hadoop local filesystem, JVM-wide. */
  private def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  private def dirBytes(dir: String): Long = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    } finally files.close()
  }

  test("one read of the raw JSON feeds all six results: each source is parsed " +
      "once, no result range-sorts, and the pass runs a pinned number of jobs") {
    val raw = rawDir(n = 300, seed = 71L)
    val rawBytes = dirBytes(raw)
    val read0 = localBytesRead()
    val (out, counts) = EngineListener.measure(spark) {
      val rs = results(PinterestPipeline.run(spark, raw))
      rs.foreach { case (_, df) => df.collect() }
      rs
    }
    val jobs = counts.jobs
    val read = localBytesRead() - read0
    assert(read < 1.1 * rawBytes,
      s"the pass read $read local bytes for a $rawBytes-byte raw dir " +
        f"(${read.toDouble / rawBytes}%.2fx): a source was parsed more than once")
    out.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"),
        s"$name's final plan range-sorts a small result:\n$plan")
    }
    // per result, its broadcasts, shuffle map stages and result stage:
    // q1, q2, q4 = 3 each (no window exchange), q3a, q3b = 5 each, q5 = 2;
    // the source parses ride the first jobs that read them
    assert(jobs == 21, s"the pass ran $jobs jobs")
  }

  test("each result is delivered in its declared total order, in one sorted " +
      "partition, without a caller sort — with AQE on and off") {
    val raw = rawDir(n = 300, seed = 72L)
    // declared sort keys (SURVEY §7.3), `true` = ascending; Spark puts
    // nulls first ascending and last descending
    def cmp(a: Any, b: Any, asc: Boolean): Int = (Option(a), Option(b)) match {
      case (None, None) => 0
      case (None, _) => if (asc) -1 else 1
      case (_, None) => if (asc) 1 else -1
      case (Some(x), Some(y)) =>
        val c = x.asInstanceOf[Comparable[Any]].compareTo(y)
        if (asc) c else -c
    }
    def check(adaptive: String): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", adaptive)
      try {
        val r = PinterestPipeline.run(spark, raw)
        Seq(
          ("q1", r.q1, Seq("category_count" -> false, "country" -> true)),
          ("q2", r.q2, Seq("post_year" -> false)),
          ("q3a", r.q3a, Seq("country" -> true)),
          ("q4", r.q4, Seq("age_group" -> true)),
          ("q5", r.q5, Seq("join_year" -> true))
        ).foreach { case (name, df, order) =>
          val parts = df.rdd.glom().collect().count(_.nonEmpty)
          assert(parts == 1, s"$name (AQE $adaptive) arrives in $parts non-empty " +
            "partitions, not one sorted partition")
          val rows = df.collect().toSeq
          assert(rows.length > 1, s"$name: too few rows to check an order")
          rows.sliding(2).foreach { case Seq(a, b) =>
            val c = order.iterator
              .map { case (col, asc) => cmp(a.getAs[Any](col), b.getAs[Any](col), asc) }
              .find(_ != 0).getOrElse(0)
            assert(c < 0, s"$name (AQE $adaptive): $a does not strictly precede $b " +
              "under its declared order")
          }
        }
        assert(r.q3b.collect().length == 1)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    check("true")
    check("false")
  }

  test("a Sources.json read is a snapshot: files added or removed after its first " +
      "action do not change its results; a new read sees them") {
    val raw = rawDir(n = 100, seed = 73L)
    val read = Sources.json(spark, s"$raw/user", Schemas.rawUser)
    val perYear = PinterestQueries.usersJoinedPerYear(Cleaners.user(read))
    val first = perYear.collect().toSeq
    assert(first.map(_.getAs[Long]("number_users_joined")).sum == 100)
    // a late wave lands beside the read files, and one read file goes away
    Emulator.writeWave(raw, start = 100, n = 50, seed = 74L)
    val gone = new java.io.File(s"$raw/user").listFiles()
      .filter(_.getName.startsWith("wave-73-")).minBy(_.getName)
    val goneRows = scala.io.Source.fromFile(gone).getLines().count(_.nonEmpty)
    assert(gone.delete())
    assert(perYear.collect().toSeq == first)
    assert(Cleaners.user(read).count() == 100)
    assert(read.select("ind").distinct().count() == 100)
    val fresh = Sources.json(spark, s"$raw/user", Schemas.rawUser)
    assert(fresh.count() == 100 - goneRows + 50)
  }
}
