package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** The WRITE side of every persisted index: each family is declared once
  * ([[Family]], the way [[Stamp.Kind]] declares a sidecar) and four verbs
  * serve all of them — [[build]], [[append]], [[compact]] and [[repair]].
  * A retrain is [[build]] from the dir's own [[recorded]] spec over its
  * own rows ([[Own]]), not a fifth verb.
  *
  * [[append]], [[compact]] and [[repair]] take no option the index
  * records: they read the family (which declared tables exist), the
  * grain (the `chunk_grid` sidecar), the grid, the shard moduli, the
  * stop list and the PQ encode parameters from the dir itself, so there
  * is no way to append with a mismatched grid, modulus or codebook flag.
  * Every verb commits its family's tables in declared order and checks
  * them back into lockstep ([[Versioned.committed]], over the read side's
  * one version rule) before it returns; a build commits through
  * [[Versioned.rewrite]], so a crash between a prior writer's commits
  * heals there.
  *
  * A new index kind is a [[Family]] declaration plus its [[Spec]], served
  * by these four verbs — never a new `build*`/`append*` function.
  */
object Index {

  /** The unit an index row describes: whole documents, or `size`-token
    * windows every `stride` tokens (the chunk-grain RAG indexes, keyed by
    * ck = doc_id·2³² + chunk_start; the grid is recorded in the dir's
    * `chunk_grid` sidecar and immutable for the index's lifetime). */
  sealed trait Grain
  case object Docs extends Grain
  final case class Chunks(size: Int, stride: Int) extends Grain {
    require(size > 0 && stride > 0, s"chunk grid needs size, stride > 0")
  }

  /** An index family, declared once:
    *
    *  - `artifact`: its name, its tables in commit order — also its
    *    lockstep set (a read pins all of them; a declared table missing
    *    beside another refuses) — and what a refusal of a wedged dir
    *    tells the operator;
    *  - `layout`: (table, column) of its physical layout — the table the
    *    compaction debt accrues on;
    *  - `stamps`: the sidecars [[repair]] re-stamps after verification;
    *    `grid` names the table a chunk-grain index's grid is stamped on;
    *  - `landing`: (table, key) of the table an append lands FIRST and a
    *    crashed append is completed from — a float or SQ8 repair rolls
    *    back instead, so those have none.
    */
  final case class Family(artifact: Versioned.Artifact,
                          layout: (String, String),
                          stamps: Seq[Stamp.Kind[_]], grid: Option[String],
                          landing: Option[(String, String)]) {
    def name: String = artifact.name
    def gridKind: Option[Stamp.Kind[(Int, Int)]] = grid.map(Stamp.chunkGrid)
  }

  val Bm25: Family = Family(Versioned.Artifact("BM25", Seq("postings", "stats"),
      "run Index.repair (formerly repairBm25Index)"),
    "postings" -> "tok", Seq(Stamp.TokParts, Stamp.StopToks),
    Some("postings"), Some("postings" -> "doc_id"))
  val Ivf: Family = Family(Versioned.Artifact("IVF",
      Seq("centroids", "assignment"),
      "run Index.repair (formerly repairIvfIndex)"),
    "assignment" -> "centroid_id", Nil, Some("assignment"), None)
  val Sq8: Family = Ivf.copy(artifact = Ivf.artifact.copy(name = "IVF-SQ8"))
  val Pq: Family = Family(Versioned.Artifact("IVF-PQ",
      Seq("vectors", "centroids", "codebook", "assignment"), Ivf.artifact.remedy),
    "assignment" -> "centroid_id", Seq(Stamp.VecParts), Some("assignment"),
    Some("vectors" -> "cand_id"))
  val Forward: Family = Family(Versioned.Artifact("forward", Seq("fwd"),
      "rebuild with Index.build (formerly buildForwardIndex)"),
    "fwd" -> "doc_part", Seq(Stamp.DocParts), None, None)

  /** What to build an index with. The grain is a field; every other
    * field is a build-time choice the dir then records. */
  sealed trait Spec { def grain: Grain }
  final case class Bm25Spec(grain: Grain = Docs, nBuckets: Int = 8,
                            layout: String = "bucket", nPartDirs: Int = 16,
                            stopTokens: Seq[String] = Nil,
                            stopMaxDfRatio: Option[Double] = None,
                            metaCols: Seq[String] = Nil) extends Spec
  /** `dim`: the chunk-grain encoder's embedding width. */
  final case class IvfSpec(grain: Grain = Docs, nCentroids: Int = 16,
                           lloydIters: Int = 0, nBuckets: Int = 8,
                           layout: String = "bucket",
                           metaCols: Seq[String] = Nil,
                           dim: Int = 64) extends Spec
  final case class Sq8Spec(nCentroids: Int = 16, lloydIters: Int = 0,
                           nBuckets: Int = 8,
                           layout: String = "bucket") extends Spec {
    def grain: Grain = Docs
  }
  final case class PqSpec(grain: Grain = Docs, nCentroids: Int = 16,
                          m: Int = 8, ks: Int = 16, pqLloydIters: Int = 0,
                          lloydIters: Int = 0, dim: Int = 64,
                          residual: Boolean = false, nBuckets: Int = 8,
                          layout: String = "bucket", nVecParts: Int = 0,
                          metaCols: Seq[String] = Nil) extends Spec
  final case class ForwardSpec(nPartDirs: Int = 0) extends Spec {
    def grain: Grain = Docs
  }

  /** What a build or append writes: documents (BM25, forward, and the
    * chunk-grain ANN indexes, which embed their windows), vectors
    * (id, vec, meta…) for a doc-grain ANN index, or — a retrain — the
    * index's own rows. */
  sealed trait Input
  final case class Text(docs: DataFrame, id: Column, text: Column) extends Input
  final case class Vectors(rows: DataFrame) extends Input
  case object Own extends Input

  // ------------------------------------------------------------ families

  /** The family a spec builds. */
  def family(spec: Spec): Family = spec match {
    case _: Bm25Spec => Bm25
    case _: IvfSpec => Ivf
    case _: Sq8Spec => Sq8
    case _: PqSpec => Pq
    case _: ForwardSpec => Forward
  }

  /** Detection order: a family is known by its first committed table. */
  private val Detected = Seq(Bm25, Forward, Pq, Ivf)

  private def has(spark: SparkSession, indexDir: String, t: String) =
    Versioned.exists(spark, s"$indexDir/$t")

  /** The family whose declared tables `indexDir` holds, without telling
    * SQ8 from float IVF — what a read pins over. A three-table IVF-PQ dir
    * (codebook, no vectors) predates the exact re-rank and refuses with
    * the rebuild remedy. */
  private[graft] def tablesFamily(spark: SparkSession, indexDir: String): Family =
    Detected.find(f => has(spark, indexDir, f.artifact.tables.head)) match {
      case Some(Ivf) if has(spark, indexDir, "codebook") =>
        throw new IllegalArgumentException(s"$indexDir is a three-table " +
          "IVF-PQ index (no vectors table) — rebuild it with Index.build")
      case Some(f) => f
      case None => throw new IllegalArgumentException(
        s"$indexDir holds no index (none of the declared tables)")
    }

  /** The family of the index at `indexDir`. */
  private[graft] def familyOf(spark: SparkSession, indexDir: String): Family =
    tablesFamily(spark, indexDir) match {
      case Ivf if Versioned.read(spark, s"$indexDir/centroids").columns
          .contains("s") => Sq8
      case f => f
    }

  /** True when a first table of any family has committed under `dir`. */
  def exists(spark: SparkSession, indexDir: String): Boolean =
    Detected.exists(f => has(spark, indexDir, f.artifact.tables.head))

  /** True when every declared table of the dir's family exists at one
    * latest version — false is the shape [[repair]] heals. */
  def intact(spark: SparkSession, indexDir: String): Boolean =
    Versioned.intact(spark, indexDir, tablesFamily(spark, indexDir).artifact)

  /** The grid of a chunk-grain dir, validated ([[Retrieval.chunkGrid]]
    * refuses a stale or corrupt stamp); None at doc grain. */
  private def gridOf(spark: SparkSession, indexDir: String,
                     fam: Family): Option[(Int, Int)] =
    fam.gridKind.filter(Stamp.exists(spark, indexDir, _))
      .map(k => Retrieval.chunkGrid(spark, indexDir, k.table))

  private def textOf(in: Input, fam: Family): Text = in match {
    case t: Text => t
    case other => throw new IllegalArgumentException(s"a ${fam.name} index " +
      s"is written from documents (Index.Text), got $other")
  }

  /** The ANN rows of an input: vectors as given at doc grain, or the
    * documents' windows embedded at chunk grain. */
  private def vecsOf(in: Input, grain: Grain, dim: Int,
                     metaCols: Seq[String]): DataFrame = (in, grain) match {
    case (Vectors(rows), Docs) => rows
    case (Text(docs, id, text), Chunks(size, stride)) =>
      Retrieval.chunkVecs(docs, id, text, size, stride, dim, metaCols)
    case _ => throw new IllegalArgumentException(s"a $grain ANN index is " +
      s"written from ${if (grain == Docs) "vectors (Index.Vectors)"
        else "documents (Index.Text)"}")
  }

  // --------------------------------------------------------------- verbs

  /** Build (or rebuild) the index at `indexDir` from `in` per `spec`, as
    * one fresh lockstep overwrite version through [[Versioned.rewrite]]
    * (a dir a prior writer left skewed is padded, a crashed first build's
    * partial tables are dropped), then stamp the chunk grid. With [[Own]]
    * this is the RETRAIN of a float IVF or IVF-PQ index from its own rows
    * ([[Similarity.ownRows]]: tombstones drop) — pass
    * `recorded(spark, dir)` to keep every recorded parameter. Returns the
    * committed version.
    */
  def build(spec: Spec, in: Input, indexDir: String): Long = {
    val spark = in match {
      case Text(d, _, _) => d.sparkSession
      case Vectors(r) => r.sparkSession
      case Own => SparkSession.active
    }
    val fam = family(spec)
    Versioned.rewrite(spark, indexDir, fam.artifact) { v =>
      spec match {
        case s: Bm25Spec =>
          val t = textOf(in, Bm25)
          s.grain match {
            case Docs => Retrieval.bm25Build(t.docs, t.id, t.text, indexDir, s, v)
            case Chunks(size, stride) => Retrieval.bm25Build(
              Retrieval.chunkKeyed(t.docs, t.id, t.text, size, stride, s.metaCols),
              col("ck"), col("chunk_text"), indexDir, s, v)
          }
        case s: ForwardSpec =>
          val t = textOf(in, Forward)
          Retrieval.fwdBuild(t.docs, t.id, t.text, indexDir, s.nPartDirs)
        case s: Sq8Spec =>
          Similarity.sq8Build(vecsOf(in, Docs, 0, Nil), indexDir, s)
        case s: IvfSpec => annBuild(spark, in, indexDir, fam, s.grain, s.dim,
          s.metaCols)(Similarity.ivfBuild(_, indexDir, s))
        case s: PqSpec => annBuild(spark, in, indexDir, fam, s.grain, s.dim,
          s.metaCols)(Similarity.pqBuild(_, indexDir, s))
      }
      // the grid AFTER the build commits, stamped with the overwrite it
      // describes: a build that dies between the two leaves a stamp
      // mismatch every consumer refuses, never a stale grid silently
      // mis-chunking the next append
      spec.grain match {
        case Chunks(size, stride) =>
          Stamp.write(spark, indexDir, fam.gridKind.get, (size, stride), v)
        case Docs => ()
      }
    }
  }

  /** A float IVF or IVF-PQ build over `in`'s rows; over [[Own]], the
    * retrain, which re-derives a gatecounts sidecar. */
  private def annBuild(spark: SparkSession, in: Input, indexDir: String,
                       fam: Family, grain: Grain, dim: Int,
                       metaCols: Seq[String])(body: DataFrame => Long): Unit =
    in match {
      case Own =>
        val own = familyOf(spark, indexDir)
        require(own == fam || own == Sq8, s"$indexDir is a ${own.name} " +
          "index — retrain it with its recorded spec")
        body(Similarity.ownRows(spark, indexDir, own)): Unit
        Similarity.refreshGateCountsIfPresent(spark, indexDir)
      case _ => body(vecsOf(in, grain, dim, metaCols)): Unit
    }

  /** Append a batch of NEW documents or vectors (ids previously unseen —
    * the append-only invariant every index here shares) to the index at
    * `indexDir`, FAISS-add style: no retrain, frozen centroids/codebook,
    * frozen stop list, recorded grid and shard moduli. Refuses a dir out
    * of lockstep, naming its family's remedy. Returns the new version.
    */
  def append(in: Input, indexDir: String): Long = {
    val spark = in match {
      case Text(d, _, _) => d.sparkSession
      case Vectors(r) => r.sparkSession
      case Own => throw new IllegalArgumentException(
        "an append writes a batch (Index.Text or Index.Vectors)")
    }
    val fam = familyOf(spark, indexDir)
    Versioned.lockstep(spark, indexDir, fam.artifact, None): Unit
    val grid = gridOf(spark, indexDir, fam)
    val v = fam match {
      case Bm25 =>
        val t = textOf(in, fam)
        grid match {
          case None => Retrieval.bm25Append(t.docs, t.id, t.text, indexDir)
          case Some((size, stride)) =>
            // a meta-carrying chunk index takes its gate columns from the
            // batch's documents; the append then enforces all are there
            val meta = Retrieval.postingsMetaCols(
              Versioned.read(spark, s"$indexDir/postings"))
            Retrieval.bm25Append(Retrieval.chunkKeyed(t.docs, t.id, t.text,
                size, stride, meta.filter(t.docs.columns.contains)),
              col("ck"), col("chunk_text"), indexDir)
        }
      case Forward =>
        val t = textOf(in, fam)
        Retrieval.fwdAppend(t.docs, t.id, t.text, indexDir)
      case _ =>
        val rows = grid match {
          case None => vecsOf(in, Docs, 0, Nil)
          case Some((size, stride)) =>
            val dim = Similarity.centroidDim(spark, indexDir)
            val meta = Similarity.indexMetaCols(spark, indexDir)
            vecsOf(in, Chunks(size, stride), dim, in match {
              case Text(d, _, _) => meta.filter(d.columns.contains)
              case _ => meta
            })
        }
        Similarity.annAppend(rows, indexDir, fam)
    }
    Versioned.committed(spark, indexDir, fam.artifact, v)
  }

  /** Compact the index after a run of appends: re-establish its declared
    * layout (appends demote reads to plain files until this runs), drop
    * tombstoned rows (the merge half of [[Tombstones]]), re-derive shard
    * moduli and a df-capped stop list, in declared commit order so a
    * crash leaves a shape [[repair]] heals. A chunk index's grid is
    * validated BEFORE the rewrite and re-stamped at the new overwrite.
    */
  def compact(spark: SparkSession, indexDir: String): Long = {
    val fam = familyOf(spark, indexDir)
    val grid = gridOf(spark, indexDir, fam)
    val v = fam match {
      case Bm25 => Retrieval.bm25Compact(spark, indexDir)
      case Forward => Retrieval.fwdCompact(spark, indexDir)
      case _ => Similarity.annCompact(spark, indexDir, fam)
    }
    grid.foreach(Stamp.write(spark, indexDir, fam.gridKind.get, _, v))
    Versioned.committed(spark, indexDir, fam.artifact, v)
  }

  /** Heal the dir: restore lockstep after a crash between a writer's
    * table commits (BM25 and IVF-PQ complete a crashed append from their
    * landing table, float IVF and SQ8 roll it back — see
    * [[Retrieval.bm25Repair]] and [[Similarity.annRepair]]), then
    * [[Stamp.restamp]] every declared sidecar, which blesses a stale
    * stamp only after its verifier proves it. No-op on an intact, trusted
    * dir; a shape no crash produces refuses. Returns the lockstep version.
    */
  def repair(spark: SparkSession, indexDir: String): Long = {
    val fam = familyOf(spark, indexDir)
    val v = fam match {
      case Bm25 => Retrieval.bm25Repair(spark, indexDir)
      case Forward => Versioned.latestVersion(spark, s"$indexDir/fwd")
      case _ => Similarity.annRepair(spark, indexDir, fam)
    }
    (fam.stamps ++ fam.gridKind).foreach(k => Stamp.restamp(spark, indexDir, k))
    v
  }

  /** The spec a float IVF, SQ8 or IVF-PQ dir records — what a retrain
    * rebuilds with: `build(recorded(spark, dir), Own, dir)`. The grid is
    * read UNvalidated ([[Stamp.recorded]]): a stale stamp left by a
    * crashed prior rebuild must not wedge the retrain cadence, and the
    * rebuild makes it true again at its own commit. */
  def recorded(spark: SparkSession, indexDir: String): Spec = {
    val fam = familyOf(spark, indexDir)
    require(fam != Bm25 && fam != Forward, s"$indexDir is a ${fam.name} " +
      "index: it rebuilds from its corpus (Index.build with its spec)")
    val k = fam.gridKind.get
    val grain: Grain =
      if (!Stamp.exists(spark, indexDir, k)) Docs
      else Stamp.recorded(spark, indexDir, k).map(g => Chunks(g._1._1, g._1._2))
        .getOrElse(sys.error(s"$indexDir carries no parseable ${k.name} " +
          "sidecar — rebuild from the corpus with Index.build"))
    Similarity.recordedSpec(spark, indexDir, fam, grain)
  }

  /** True iff `batch`'s documents are already in the dir's landing table
    * — what tells the two healed shapes of a broken dir apart: a crashed
    * APPEND's orphan slice IS this boundary's batch (the repair completed
    * it; appending again would land it twice), while a crashed
    * COMPACTION from a prior boundary repairs with an empty delta and the
    * batch still needs its append. Presence is all-or-nothing (a batch
    * lands in ONE commit), so a PARTIAL presence is a foreign write and
    * refuses. Chunk-grain keys decode to their document. False for a
    * family without a landing table (its repair rolls back); an empty
    * batch counts as landed.
    */
  def landed(spark: SparkSession, batch: DataFrame, indexDir: String): Boolean =
    tablesFamily(spark, indexDir).landing.exists { case (table, key) =>
      val ids = batch.select(col("doc_id")).distinct()
      val stored = Versioned.read(spark, s"$indexDir/$table")
        .select(Retrieval.docKeyExpr(spark, indexDir, col(key)).as("doc_id"))
        .distinct()
      val present = ids.join(stored, Seq("doc_id"), "left_semi").count()
      val total = ids.count()
      require(present == 0L || present == total,
        s"$indexDir $table hold PART of this boundary's batch ($present " +
          s"of $total docs) — no append/compaction crash shape produces a " +
          "partial batch; investigate foreign writes before appending")
      total == 0L || present == total
    }
}
