package graft.sources

import org.apache.spark.sql.SparkSession

/** Build-if-absent cache for a derived multi-table artifact — one
  * [[Versioned.Artifact]] declaration (an index family's tables, an NB
  * model's grid + priors).
  *
  * The cache key is a FINGERPRINT of the source parquet (file names,
  * sizes, mtimes — children folded in name order, so the key is stable
  * across filesystems with unstable directory-listing order), so
  * regenerated testdata at the same path gets a fresh artifact instead
  * of stale results. A half-completed build (a declared table missing,
  * or the tables out of lockstep after a crash between commits —
  * [[Versioned.intact]]) is dropped and rebuilt rather than wedging every
  * later run.
  */
object CachedArtifact {

  /** Returns the artifact directory, building it first if absent or
    * not intact (the declared tables of `artifact`, relative to it).
    */
  def resolve(spark: SparkSession, sourceFile: java.io.File, tag: String,
              artifact: Versioned.Artifact)(build: String => Unit): String = {
    def fp(f: java.io.File): Long =
      if (f.isDirectory)
        f.listFiles.sortBy(_.getName)
          .map(c => fp(c) ^ c.getName.hashCode.toLong)
          .foldLeft(17L)((a, b) => a * 31 + b)
      else f.lastModified ^ (f.length * 1315423911L)
    val key = java.lang.Long.toHexString(fp(sourceFile))
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft_${tag}_$key").getPath
    if (!Versioned.intact(spark, dir, artifact)) {
      Versioned.drop(spark, dir)
      build(dir)
    }
    dir
  }
}
