package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build a LARGER bench tier from an existing driver testdata dir by
  * deterministically scaling the two pipeline tables (`documents`,
  * `embeddings`) `factor`× — replicas get offset ids, every text token
  * tagged per replica ([[replicate]]: vocabulary keeps growing, so no
  * replica is a dup or near-dup of another), and a
  * per-(id, replica, position) arithmetic perturbation of the embedding
  * (directions move, so ANN rankings are not degenerate ties). Every
  * other table copies verbatim, so any query runs against the new dir.
  *
  * Zero randomness (`rand()`/`Math.random` would make reruns
  * incomparable): every perturbation is a pure function of (id, replica,
  * position). The output lives OUTSIDE /root/testdata (that dir is
  * read-only by contract); the wall-clock-vs-byte-slope table in
  * ROUNDLOG reads this tier through [[BenchTier]].
  *
  * Usage: tools/run.sh graft.ScaleData /root/testdata/sf0.1 /tmp/sf0.3 3
  */
object ScaleData {
  /** The one replica rule: `factor` copies of a documents table, copy k's
    * ids offset by k × (max id + 1) and EVERY token of its text tagged
    * `r<k>` (copy 0 stays verbatim). Replicas then share no shingles,
    * fingerprints or minhash bands with their originals, so the
    * duplicate structure grows linearly with the corpus — a one-suffix
    * perturbation left each replica a NEAR-DUP of its original, so the
    * near-dup pair graph (and every funnel built on it) grew
    * ~replicas², a replica-injected super-linearity the first sf0.3 run
    * measured as a phantom 3.7× slope on q117. `ScalingSpec` grows its
    * corpora with this rule too.
    */
  def replicate(docs: DataFrame, factor: Int): DataFrame = {
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    (1 until factor).map { k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k.toLong * docSpan))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => concat(lit(s"r$k"), t)), " "))
    }.foldLeft(docs)(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = LocalSession()
    new java.io.File(dst).mkdirs()

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    replicate(spark.read.parquet(s"$src/documents.parquet"), factor)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val vecSpan = embs.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val embReps = (1 until factor).map { k =>
      embs.withColumn("vec_id", col("vec_id") + lit(k.toLong * vecSpan))
        // per-(id, replica, position) perturbation: ±0.09 max per
        // component — directions move, rankings stay non-degenerate
        .withColumn("embedding", transform(col("embedding"), (x, i) =>
          (x + (pmod(col("vec_id") * 131 + lit(k * 17) + i.cast("long"),
            lit(19L)) - lit(9L)).cast("float") * lit(0.01f))
            .cast("float")))
    }
    embReps.foldLeft(embs)(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val nd = spark.read.parquet(s"$dst/documents.parquet").count()
    val ne = spark.read.parquet(s"$dst/embeddings.parquet").count()
    println(s"""{"scaled":"$dst","factor":$factor,"documents":$nd,"embeddings":$ne}""")
    spark.stop()
  }
}
