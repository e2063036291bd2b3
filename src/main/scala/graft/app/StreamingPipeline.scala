package graft.app

import graft.clean.{Cleaners, Schemas}
import graft.sources.{Emulator, Sources}
import graft.streaming.StreamJobs

/** E3-equivalent streaming job end-to-end (SURVEY.md §3 E3): emulate raw
  * wire records arriving as files → readStream with declared schemas →
  * clean → checkpointed parquet persistence, plus the watermarked
  * windowed count into a memory sink.
  *
  * Run: tools/run.sh graft.app.StreamingPipeline [nRecords] [workDir]
  */
object StreamingPipeline {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val workDir = args.lift(1).getOrElse("/tmp/graft_stream")
    val spark = graft.LocalSession()

    // Two emulator waves into the same directory: the second wave lands
    // after the first AvailableNow drain, proving the checkpoint resumes
    // from the committed offset instead of reprocessing.
    Emulator.write(s"$workDir/raw", n, seed = 1L)
    Seq("pin" -> (Schemas.rawPin, Cleaners.pin _),
        "geo" -> (Schemas.rawGeo, Cleaners.geo _),
        "user" -> (Schemas.rawUser, Cleaners.user _)).foreach {
      case (name, (schema, clean)) =>
        StreamJobs.cleanToParquet(spark, s"$workDir/raw/$name", schema, clean,
          s"$workDir/out/$name", s"$workDir/ckpt/$name").awaitTermination()
        println(s"[stream] $name wave1 rows=" +
          spark.read.parquet(s"$workDir/out/$name").count())
    }

    Emulator.writeWave(s"$workDir/raw", n, n / 2, seed = 2L)
    Seq("pin" -> (Schemas.rawPin, Cleaners.pin _),
        "geo" -> (Schemas.rawGeo, Cleaners.geo _),
        "user" -> (Schemas.rawUser, Cleaners.user _)).foreach {
      case (name, (schema, clean)) =>
        StreamJobs.cleanToParquet(spark, s"$workDir/raw/$name", schema, clean,
          s"$workDir/out/$name", s"$workDir/ckpt/$name").awaitTermination()
        println(s"[stream] $name wave2 rows=" +
          spark.read.parquet(s"$workDir/out/$name").count())
    }

    // ST3: windowed count over the geo stream, drained to a memory table.
    val geoStream = Cleaners.geo(
      Sources.jsonStream(spark, s"$workDir/raw/geo", Schemas.rawGeo))
    StreamJobs.toMemorySink(
      StreamJobs.windowedCountsByCountry(geoStream), "windowed_counts")
      .awaitTermination()
    println(s"[stream] windowed_counts rows=" +
      spark.table("windowed_counts").count())
    spark.stop()
  }
}
