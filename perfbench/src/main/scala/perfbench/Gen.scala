package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.Random

/** Seeded serving corpus. Every byte of every generated file is a
  * function of the seed alone (java.util.Random, fixed iteration order,
  * locale-free number formatting), so one seed reproduces its inputs
  * byte for byte.
  *
  * Its shape follows the engine's sf0.1 `documents`/`embeddings` test
  * tables, measured over all 5,000 documents and 2,000 embeddings:
  *  - text: 10–100 tokens, uniform (median 54); each token uniform over
  *    30 words (every word in 76–79% of documents), and 5% of documents
  *    end in the rare token `dup`, so a query term is either common
  *    (df ≈ 0.77) or rare (df ≈ 0.05);
  *  - lang: en 41%, zh/es/fr/de about 15% each;
  *  - 0.16% of documents repeat an earlier document's text exactly;
  *  - 40% of documents carry an embedding: 64-d, unit norm, one of 10
  *    labels whose centroid has norm ≈ 0.07 (labels barely separate the
  *    vectors; the within-label spread is ≈ 1).
  */
object Gen {

  val Vocab = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Rare = "dup"
  val RareRate = 0.05
  val DupTextRate = 0.0016
  val VecShare = 0.4
  val Langs = Vector("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)
  val Dim = 64
  val Labels = 10
  val LabelShift = 0.07

  private val langTotal = Langs.map(_._2).sum
  private def lang(rnd: Random): String = {
    var u = rnd.nextInt(langTotal)
    Langs.find { case (_, n) => u -= n; u < 0 }.get._1
  }

  private def docText(rnd: Random): String = {
    val toks = Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length)))
    (if (rnd.nextDouble() < RareRate) toks :+ Rare else toks).mkString(" ")
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def fmt(x: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.6f", Double.box(x))

  final case class Doc(id: Long, day: Int, lang: String, text: String, vec: Option[Array[Double]])

  /** A day-0 batch of `initial` documents, a few of which are taken
    * down, then `appends` later batches of `perAppend` documents.
    * Writes docs.jsonl, vecs.jsonl and takedown.jsonl.
    */
  def serveCorpus(dir: String, initial: Int, appends: Int, perAppend: Int,
                  seed: Long): Unit = {
    val rnd = new Random(seed)
    val shifts = Array.fill(Labels)(unit(Array.fill(Dim)(rnd.nextGaussian())).map(_ * LabelShift))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def add(id: Long, day: Int): Unit = {
      val text = if (docs.nonEmpty && rnd.nextDouble() < DupTextRate) docs(rnd.nextInt(docs.length)).text
                 else docText(rnd)
      val vec = if (rnd.nextDouble() < VecShare) {
        val s = shifts(rnd.nextInt(Labels))
        Some(unit(Array.tabulate(Dim)(k => s(k) + rnd.nextGaussian() / math.sqrt(Dim))))
      } else None
      docs += Doc(id, day, lang(rnd), text, vec)
    }
    (0 until initial).foreach(i => add(i.toLong, 0))
    val td = new StringBuilder
    rnd.shuffle((0 until initial).toVector).take(3)
      .foreach(o => td ++= s"""{"day":0,"doc_id":${docs(o).id}}""" + "\n")
    for (d <- 1 to appends; i <- 0 until perAppend) add(d * 100000L + i, d)
    val docsOut = new StringBuilder
    val vecsOut = new StringBuilder
    docs.foreach { x =>
      docsOut ++= s"""{"doc_id":${x.id},"day":${x.day},"lang":"${x.lang}","n_chars":${x.text.length},"text":"${x.text}"}""" + "\n"
      x.vec.foreach(v => vecsOut ++= s"""{"id":${x.id},"day":${x.day},"vec":[${v.map(fmt).mkString(",")}]}""" + "\n")
    }
    Files.createDirectories(Paths.get(dir))
    def put(name: String, sb: StringBuilder): Unit =
      Files.write(Paths.get(dir, name), sb.toString.getBytes(UTF_8)): Unit
    put("docs.jsonl", docsOut); put("vecs.jsonl", vecsOut)
    put("takedown.jsonl", td)
  }
}
