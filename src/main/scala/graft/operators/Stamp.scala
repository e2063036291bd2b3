package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** Version-stamped sidecar files beside a persisted index — the ONE
  * place they are read, written, verified, re-stamped and vacuumed.
  *
  * A sidecar records a value its index cannot re-derive cheaply per
  * probe (a shard modulus, a frozen stop list, a chunk window grid),
  * stamped with the overwrite version of the table it describes.
  * Appends keep a table's last overwrite, builds and compactions move
  * it, so a stamp equal to that last overwrite is TRUSTED, and any other
  * stamp means a rebuild or compaction died between its table commit
  * and the re-stamp: consumers then degrade (shard pruning falls back
  * to the unpruned scan) or refuse (appends, grids, stop lists), and
  * [[restamp]] recovers the stamp only after its [[Verifier]] proves the
  * value still describes the data.
  *
  * Files, per kind: `<name>` (the head, serving latest reads) and one
  * `<name>@<v>` epoch copy per overwrite `v`, so a read PINNED to an
  * earlier layout epoch (a serving stream that straddled a compaction)
  * resolves that epoch's own value. [[vacuum]] bounds the history.
  */
object Stamp {

  /** A kind's text format: value and stamp to bytes and back. `decode`
    * returns None on anything it cannot parse — a truncated or garbled
    * file is untrusted, never an exception. */
  final case class Codec[A](encode: (A, Long) => String,
                            decode: String => Option[(A, Long)])

  /** How [[restamp]] proves a recorded value still describes the stamp
    * table `t`'s head overwrite: the first candidate it accepts. */
  sealed trait Verifier[A] {
    private[Stamp] def accept(spark: SparkSession, indexDir: String, t: String,
                              recorded: Option[(A, Long)], head: Long): Option[A]
  }

  /** Every row satisfies `shard = f(key, n)`. Candidates, in order:
    * the recorded modulus, max(shard)+1 off the data (the sidecar-lost
    * shape), and `auto(row count)` — what an auto-sizing compaction
    * used, which max+1 misses when the new top shard is empty. */
  final case class ShardOf(key: String, shard: String,
                           f: (Column, Int) => Column,
                           auto: Long => Option[Int] = _ => None)
      extends Verifier[Int] {
    private[Stamp] def accept(spark: SparkSession, indexDir: String,
                              t: String, recorded: Option[(Int, Long)],
                              head: Long): Option[Int] =
      if (!Versioned.declaredLayout(spark, t).startsWith("part:")) None
      else {
        val rows = Versioned.read(spark, t).select(col(key), col(shard))
        // an EMPTY table has no max (NULL): only the recorded candidate
        val top = rows.agg(max(col(shard)), count(lit(1))).head
        val fromData =
          if (top.isNullAt(0)) Nil
          else Seq(top.getLong(0).toInt + 1) ++ auto(top.getLong(1))
        (recorded.map(_._1).toSeq ++ fromData).distinct.find(n =>
          rows.filter(col(shard) =!= f(col(key), n)).isEmpty)
      }
  }

  /** The head overwrite is a pure rewrite of the version before it: it
    * added no row and removed none — or, with `tombstoned`, only rows of
    * tombstoned documents (a crashed merge; survivors keep their keys).
    * The one candidate is the recorded value, stamped before the head. */
  final case class PureRewrite[A](tombstoned: Boolean = false)
      extends Verifier[A] {
    private[Stamp] def accept(spark: SparkSession, indexDir: String,
                              t: String, recorded: Option[(A, Long)],
                              head: Long): Option[A] =
      recorded.collect { case (a, v) if v < head && head > 0 => a }
        .filter(_ => try {
          val now  = Versioned.read(spark, t, Some(head))
          val prev = Versioned.read(spark, t, Some(head - 1))
          val gone = prev.exceptAll(now)
          val key = if (now.columns.contains("doc_id")) "doc_id" else "cand_id"
          val goneUntombed = Tombstones.of(spark, indexDir) match {
            case Some(tb) if tombstoned => gone.join(
              broadcast(tb.select(col("doc_id").as("__ts_doc"))),
              shiftright(col(key), 32) === col("__ts_doc"), "left_anti")
            case _ => gone
          }
          now.exceptAll(prev).isEmpty && goneUntombed.isEmpty
        } catch { case _: Exception => false })
  }

  /** A sidecar kind: its file name, the index table whose last
    * overwrite it is stamped against, its format and its verifier.
    * `epochFirst` kinds write their epoch copy BEFORE the table commit
    * (fail-closed), so for the live epoch that copy outranks the head. */
  final case class Kind[A](name: String, table: String, codec: Codec[A],
                           verifier: Verifier[A],
                           epochFirst: Boolean = false)

  private def nat(s: String): Option[Long] =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLongOption else None

  /** `arity` space-separated Int fields, then the stamp. */
  private def fields[A](arity: Int)(to: Seq[Int] => A,
                                    from: A => Seq[Int]): Codec[A] =
    Codec[A]((a, v) => (from(a).map(_.toString) :+ v.toString).mkString(" "),
      raw => raw.trim.split(" ").toSeq.map(nat) match {
        case ns if ns.size == arity + 1 && ns.forall(_.nonEmpty) &&
            ns.init.forall(_.get.isValidInt) =>
          Some((to(ns.init.map(_.get.toInt)), ns.last.get))
        case _ => None
      })

  /** "n v" — a partitioned table's shard modulus. */
  private val modulus = fields[Int](1)(_.head, Seq(_))

  private def pmodOf(key: Column, n: Int): Column = pmod(key, lit(n.toLong))

  /** Token shards of a "partition"-layout postings table. */
  val TokParts: Kind[Int] = Kind("tok_parts", "postings", modulus,
    ShardOf("tok", "tok_part", Retrieval.tokPartExpr))

  /** Doc shards of the forward index. */
  val DocParts: Kind[Int] = Kind("doc_parts", "fwd", modulus,
    ShardOf("doc_id", "doc_part", pmodOf,
      n => Some(Retrieval.autoDocShards(n))))

  /** Candidate shards of the IVF-PQ full-precision vectors table. */
  val VecParts: Kind[Int] = Kind("vec_parts", "vectors", modulus,
    ShardOf("cand_id", "vec_part", pmodOf,
      n => Some(Similarity.autoVecShards(n))))

  /** A BM25 build's frozen stop list and optional re-cap ratio. Line 1
    * is "v" or "v ratio", the remaining lines the sorted tokens (none =
    * an explicitly uncapped build). */
  val StopToks: Kind[(Seq[String], Option[Double])] = Kind("stop_toks",
    "postings",
    Codec[(Seq[String], Option[Double])](
      { case ((toks, ratio), v) =>
        ((v.toString + ratio.map(r => s" $r").getOrElse("")) +:
          toks.distinct.sorted).mkString("\n") },
      raw => {
        val lines = raw.split("\n", -1).toSeq
        val toks = lines.tail.filter(_.nonEmpty)
        lines.head.trim.split(" ").toSeq match {
          case Seq(v) => nat(v).map(b => ((toks, None), b))
          case Seq(v, r) =>
            val ratio = r.toDoubleOption.filter(d => d > 0 && d < 1)
            for (b <- nat(v); d <- ratio) yield ((toks, Some(d)), b)
          case _ => None
        }
      }),
    PureRewrite(), epochFirst = true)

  /** "size stride v" — a chunk-grain index's window grid, stamped
    * against `postings` (chunk BM25) or `assignment` (chunk ANN). */
  def chunkGrid(table: String): Kind[(Int, Int)] = Kind("chunk_grid", table,
    fields[(Int, Int)](2)(g => (g(0), g(1)), g => Seq(g._1, g._2)),
    PureRewrite(tombstoned = true))

  /** Every kind [[vacuum]] bounds. The two grid kinds share a file name
    * but never a directory: a chunk BM25 index has no assignment table
    * and a chunk ANN index no postings table. */
  private val kinds: Seq[Kind[_]] = Seq(TokParts, DocParts, VecParts,
    StopToks, chunkGrid("postings"), chunkGrid("assignment"))

  // ------------------------------------------------------------- files

  private def path(indexDir: String, k: Kind[_], epoch: Option[Long]) =
    new Path(indexDir, k.name + epoch.fold("")(v => s"@$v"))

  private def load[A](spark: SparkSession, p: Path,
                      k: Kind[A]): Option[(A, Long)] = {
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file edited under its checksum shadow reads as garbled too
    if (!f.exists(p)) None
    else try {
      val in = f.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      k.codec.decode(raw)
    } catch { case _: org.apache.hadoop.fs.ChecksumException => None }
  }

  private def store[A](spark: SparkSession, p: Path, k: Kind[A], a: A,
                       v: Long): Unit = {
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(k.codec.encode(a, v).getBytes("UTF-8")) finally out.close()
  }

  private def overwrites(spark: SparkSession, indexDir: String,
                         k: Kind[_]): Seq[Long] = {
    val t = s"$indexDir/${k.table}"
    if (!Versioned.exists(spark, t)) Nil
    else Versioned.history(spark, t).collect { case (v, "overwrite", _) => v }
  }

  // -------------------------------------------------------- operations

  /** Stamp `a` at overwrite `v`: the epoch copy, then the head. */
  def write[A](spark: SparkSession, indexDir: String, k: Kind[A], a: A,
               v: Long): Unit = {
    mark(spark, indexDir, k, a, v)
    store(spark, path(indexDir, k, None), k, a, v)
  }

  /** Only the `<name>@<v>` epoch copy — an `epochFirst` kind's marker,
    * written before the commit at `v` it describes. */
  def mark[A](spark: SparkSession, indexDir: String, k: Kind[A], a: A,
              v: Long): Unit =
    store(spark, path(indexDir, k, Some(v)), k, a, v)

  /** The value trusted for a read at `asOf` (default latest), or None.
    * The epoch is the last overwrite at or before the read, resolved
    * from one history listing. The live epoch trusts the head when its
    * stamp matches (an `epochFirst` kind consults its epoch marker
    * first); an earlier epoch trusts only its own epoch copy. None when
    * the table has no such overwrite, the file is absent or corrupt, or
    * the stamp disagrees. */
  def read[A](spark: SparkSession, indexDir: String, k: Kind[A],
              asOf: Option[Long] = None): Option[A] = {
    val ows = overwrites(spark, indexDir, k)
    asOf.fold(ows.lastOption)(pin => ows.filter(_ <= pin).lastOption)
      .flatMap { e =>
        def at(epoch: Option[Long]) = load(spark, path(indexDir, k, epoch), k)
          .collect { case (a, v) if v == e => a }
        val live = ows.lastOption.contains(e)
        if (live && !k.epochFirst) at(None)
        else at(Some(e)).orElse(if (live) at(None) else None)
      }
  }

  /** True when the head file exists, whatever it holds. */
  def exists(spark: SparkSession, indexDir: String, k: Kind[_]): Boolean = {
    val p = path(indexDir, k, None)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** What the head RECORDS, ignoring whether its stamp is current:
    * (value, stamp), None when absent or corrupt. A repair's first
    * candidate, and what a retrain reads to rebuild in the same grid. */
  def recorded[A](spark: SparkSession, indexDir: String,
                  k: Kind[A]): Option[(A, Long)] =
    load(spark, path(indexDir, k, None), k)

  /** Restore an untrusted stamp: write, at the table's head overwrite,
    * the first candidate the kind's verifier accepts. No-op when the
    * stamp is already trusted (re-stamping a trusted one would move it
    * past an append-only history for nothing) or nothing verifies — the
    * consumer then keeps degrading or refusing. */
  def restamp[A](spark: SparkSession, indexDir: String, k: Kind[A]): Unit =
    if (read(spark, indexDir, k).isEmpty)
      overwrites(spark, indexDir, k).lastOption.foreach { head =>
        k.verifier.accept(spark, indexDir, s"$indexDir/${k.table}",
            recorded(spark, indexDir, k), head)
          .foreach(write(spark, indexDir, k, _, head))
      }

  /** Bound the epoch history: drop `<name>@<v>` copies of epochs no
    * retained version can pin. After `Versioned.vacuum(retainVersions =
    * N)` the readable versions are the last N, so the epochs that
    * matter are the overwrites inside that window plus the one covering
    * its floor. Call after vacuuming the index's tables with the SAME
    * retention. Returns the number of files removed. */
  def vacuum(spark: SparkSession, indexDir: String,
             retainVersions: Int = 2): Int = {
    val dir = new Path(indexDir)
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
    kinds.groupBy(_.table).toSeq
      .filter { case (t, _) => Versioned.exists(spark, s"$indexDir/$t") }
      .map { case (t, ks) =>
        val hist = Versioned.history(spark, s"$indexDir/$t")
        val floor = hist.map(_._1).takeRight(math.max(1, retainVersions)).head
        val ows = hist.collect { case (v, "overwrite", _) => v }
        val keep = (ows.filter(_ <= floor).lastOption ++ ows.filter(_ > floor))
          .toSet
        files.count { p =>
          ks.exists(k => p.getName.startsWith(s"${k.name}@") &&
            nat(p.getName.stripPrefix(s"${k.name}@")).exists(!keep(_))) &&
            f.delete(p, false)
        }
      }.sum
  }
}
