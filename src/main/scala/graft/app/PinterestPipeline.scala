package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.clean.{Cleaners, Schemas}
import graft.queries.PinterestQueries
import graft.sources.{Emulator, Sinks, Sources}

/** E2-equivalent batch job end-to-end (SURVEY.md §3 E2): emulate raw
  * wire records → read with declared schemas → clean → run the five
  * reference queries → persist results as parquet.
  *
  * Run: tools/run.sh graft.app.PinterestPipeline [nRecords] [workDir]
  */
object PinterestPipeline {

  case class Results(q1: DataFrame, q2: DataFrame, q3a: DataFrame,
                     q3b: DataFrame, q4: DataFrame, q5: DataFrame)

  /** The full pipeline over an existing raw directory. */
  def run(spark: SparkSession, rawDir: String): Results = {
    val pin = Cleaners.pin(Sources.json(spark, s"$rawDir/pin", Schemas.rawPin))
    val geo = Cleaners.geo(Sources.json(spark, s"$rawDir/geo", Schemas.rawGeo))
    val user = Cleaners.user(Sources.json(spark, s"$rawDir/user", Schemas.rawUser))
    Results(
      q1 = PinterestQueries.topCategoryByCountry(pin, geo),
      q2 = PinterestQueries.topCategoryByYear(pin, geo),
      q3a = PinterestQueries.topFollowersByCountry(pin, geo, user),
      q3b = PinterestQueries.topFollowersOverall(pin, geo, user),
      q4 = PinterestQueries.topCategoryByAgeRange(pin, user),
      q5 = PinterestQueries.usersJoinedPerYear(user))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(11001) // reference table size
    val workDir = args.lift(1).getOrElse("/tmp/graft_pipeline")
    val spark = graft.LocalSession()

    Emulator.write(s"$workDir/raw", n)
    val r = run(spark, s"$workDir/raw")
    Seq("q1" -> r.q1, "q2" -> r.q2, "q3a" -> r.q3a, "q3b" -> r.q3b,
      "q4" -> r.q4, "q5" -> r.q5).foreach { case (name, df) =>
      Sinks.parquet(df, s"$workDir/out/$name")
      println(s"[pipeline] $name rows=${spark.read.parquet(s"$workDir/out/$name").count()}")
    }
    spark.stop()
  }
}
