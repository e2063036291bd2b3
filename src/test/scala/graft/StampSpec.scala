package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stamp
import graft.sources.Versioned

/** The sidecar stamp contract, once per kind, on 1-row tables: trust
  * follows the stamp table's last overwrite, unreadable files are
  * untrusted (never an exception), pins resolve their own epoch, restamp
  * blesses only what its verifier proves, and vacuum keeps the epoch
  * covering the retention floor.
  */
class StampSpec extends SparkSpec {

  import spark.implicits._

  /** One kind: two values, a 1-row table each value describes, a
    * rewrite no candidate of the verifier accepts, and the partition
    * column of a shard kind's table. */
  case class Case[A](kind: Stamp.Kind[A], a1: A, a2: A,
                     rows: A => DataFrame, changed: () => DataFrame,
                     part: Option[String] = None) {
    def overwrite(t: String, df: DataFrame): Long =
      part.fold(Versioned.overwrite(df, t))(Versioned.overwritePartitioned(df, t, _))
    def append(t: String, df: DataFrame): Long =
      part.fold(Versioned.append(df, t))(Versioned.appendPartitioned(df, t, _))
  }

  private def tokPart(n: Int) =
    conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % n
  private def doc = Seq((5L, "a")).toDF("doc_id", "tok")

  private val cases: Seq[Case[_]] = Seq(
    Case[Int](Stamp.TokParts, 4, 8, n => doc.withColumn("tok_part", tokPart(n)),
      () => doc.withColumn("tok_part", lit(99L)), Some("tok_part")),
    Case[Int](Stamp.DocParts, 4, 8,
      n => doc.withColumn("doc_part", pmod(col("doc_id"), lit(n.toLong))),
      () => doc.withColumn("doc_part", lit(99L)), Some("doc_part")),
    Case[Int](Stamp.VecParts, 4, 8,
      n => Seq(5L).toDF("cand_id")
        .withColumn("vec_part", pmod(col("cand_id"), lit(n.toLong))),
      () => Seq(5L).toDF("cand_id").withColumn("vec_part", lit(99L)),
      Some("vec_part")),
    Case[(Seq[String], Option[Double])](Stamp.StopToks,
      (Seq("the"), Some(0.5)), (Nil, None), _ => doc,
      () => Seq((6L, "b")).toDF("doc_id", "tok")),
    Case[(Int, Int)](Stamp.chunkGrid("postings"), (32, 16), (16, 8),
      _ => doc, () => Seq((6L, "b")).toDF("doc_id", "tok")))

  private def fixture[A](c: Case[A]): (String, String) = {
    val dir = Files.createTempDirectory(s"stamp_${c.kind.name}").toString
    (dir, s"$dir/${c.kind.table}")
  }

  cases.foreach { case c: Case[a] =>
    val k = c.kind

    test(s"${k.name}: trusted after write, untrusted after a later overwrite") {
      val (dir, t) = fixture(c)
      c.overwrite(t, c.rows(c.a1))
      Stamp.write(spark, dir, k, c.a1, 0L)
      assert(Stamp.read(spark, dir, k) == Some(c.a1))
      c.append(t, c.rows(c.a1)) // appends keep the overwrite snapshot
      assert(Stamp.read(spark, dir, k) == Some(c.a1))
      c.overwrite(t, c.rows(c.a1))
      assert(Stamp.read(spark, dir, k).isEmpty)
      assert(Stamp.recorded(spark, dir, k) == Some((c.a1, 0L)))
    }

    test(s"${k.name}: a truncated or garbled file is untrusted, not an error") {
      val (dir, t) = fixture(c)
      c.overwrite(t, c.rows(c.a1))
      Stamp.write(spark, dir, k, c.a1, 0L)
      val files = Seq(k.name, s"${k.name}@0").map(n => new java.io.File(dir, n))
      Seq(Array.emptyByteArray, "x 0\u0000 ?".getBytes("UTF-8"),
          "99999999999999999999 0".getBytes("UTF-8")).foreach { bytes =>
        // raw writes under Hadoop's checksum shadow: garbled either way
        files.foreach(f => Files.write(f.toPath, bytes))
        assert(Stamp.read(spark, dir, k).isEmpty)
        assert(Stamp.recorded(spark, dir, k).isEmpty)
        assert(Stamp.exists(spark, dir, k))
      }
    }

    test(s"${k.name}: a pin in an earlier epoch reads that epoch's value") {
      val (dir, t) = fixture(c)
      c.overwrite(t, c.rows(c.a1))
      Stamp.write(spark, dir, k, c.a1, 0L)
      c.append(t, c.rows(c.a1))
      c.overwrite(t, c.rows(c.a2))
      Stamp.write(spark, dir, k, c.a2, 2L)
      c.append(t, c.rows(c.a2))
      assert(Stamp.read(spark, dir, k, Some(0L)) == Some(c.a1))
      assert(Stamp.read(spark, dir, k, Some(1L)) == Some(c.a1))
      assert(Stamp.read(spark, dir, k, Some(3L)) == Some(c.a2))
      assert(Stamp.read(spark, dir, k) == Some(c.a2))
    }

    test(s"${k.name}: restamp blesses a verified candidate and refuses a " +
        "changed rewrite") {
      val (dir, t) = fixture(c)
      c.overwrite(t, c.rows(c.a1))
      Stamp.write(spark, dir, k, c.a1, 0L)
      Versioned.compact(spark, t) // an overwrite with identical rows
      assert(Stamp.read(spark, dir, k).isEmpty)
      Stamp.restamp(spark, dir, k)
      assert(Stamp.read(spark, dir, k) == Some(c.a1))
      c.overwrite(t, c.changed())
      Stamp.restamp(spark, dir, k)
      assert(Stamp.read(spark, dir, k).isEmpty)
      assert(Stamp.recorded(spark, dir, k) == Some((c.a1, 1L)))
    }

    test(s"${k.name}: vacuum keeps the epoch covering the retention floor") {
      val (dir, t) = fixture(c)
      (0 to 2).foreach { e =>
        val v = c.overwrite(t, c.rows(c.a1))
        Stamp.write(spark, dir, k, c.a1, v)
        c.append(t, c.rows(c.a1))
      } // overwrites at 0, 2, 4; appends at 1, 3, 5
      assert(Stamp.vacuum(spark, dir, retainVersions = 3) == 1) // floor v3
      assert(Stamp.read(spark, dir, k, Some(1L)).isEmpty)
      assert(Stamp.read(spark, dir, k, Some(3L)) == Some(c.a1))
      assert(Stamp.read(spark, dir, k) == Some(c.a1))
      assert(Stamp.vacuum(spark, dir, retainVersions = 3) == 0)
    }
  }

  test("only Stamp names a sidecar file in src/main") {
    val names = cases.map(_.kind.name).distinct
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- sources(new java.io.File("src/main/scala"))
      if f.getName != "Stamp.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
      code = line.trim.split(" //").head
      if !Seq("//", "/*", "*").exists(code.startsWith)
      if names.exists(code.contains)
    } yield s"${f.getName}:${i + 1}: $code"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
