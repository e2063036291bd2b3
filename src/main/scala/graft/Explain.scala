package graft

/** Plan-inspection tool: dump the formatted physical plan of every
  * declared query (or the ones named on the command line) so scan
  * pushdown (`PushedFilters`/`ReadSchema`), join strategy (broadcast vs
  * sort-merge), and whole-stage-codegen spans can be audited.
  *
  * Usage: tools/run.sh graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // First arg is the sf dir only if it looks like a path; bare query
    // names can be passed without a dir.
    val (sfDir, rest) = args.headOption match {
      case Some(d) if d.startsWith("/") => (d, args.drop(1).toSeq)
      case _ => ("/root/testdata/sf0.01", args.toSeq)
    }
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = LocalSession("ERROR", cores = 4)
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
