package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** S3 — a transactional, versioned table format over plain parquet,
  * built on the PUBLIC Delta-protocol concepts (Armbrust et al., "Delta
  * Lake: High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020): an append-only commit log of JSON actions beside the
  * data files, optimistic concurrency on log-entry creation, snapshot
  * isolation for readers, and time travel by replaying the log to an
  * older version. The reference delegates exactly this to Delta
  * (reference README.md:300-304); the zero-egress build rules out the
  * delta jar, so the protocol is implemented here directly.
  *
  * Layout:
  * {{{
  *   table/
  *     _graft_log/00000000000000000000.json   // one JSON object per line (action)
  *     _graft_log/00000000000000000010.checkpoint.json  // consolidated state
  *     data/v0-<salt>/part-*.parquet          // immutable once committed
  * }}}
  *
  * Commit protocol (writer):
  *  1. write data files under a fresh `data/v<N>-<salt>/` directory
  *     (invisible to readers — only the log makes files live);
  *  2. `create(logFile, overwrite = false)` — EXCLUSIVE create of
  *     version N's log entry. Exactly one concurrent writer wins; the
  *     loser re-reads the log and retries against the new snapshot.
  *
  * Reader isolation: a read resolves the log ONCE into a file list, so
  * it sees exactly one version — concurrent commits change the log, not
  * the already-resolved snapshot, and data files are never mutated or
  * renamed after commit (no torn reads by construction).
  *
  * Scale posture: the log holds FILE METADATA only (grows with commits,
  * not rows); checkpoints every [[checkpointInterval]] commits bound
  * replay to O(interval) log files + one checkpoint, the same mechanism
  * Delta uses at millions of commits. Data-file listing never happens —
  * the log replaces directory listing, which is the expensive operation
  * on object stores.
  */
object Versioned {

  private val logDirName = "_graft_log"
  val checkpointInterval = 10

  /** One committed action. `add` paths are table-relative. `layout` is
    * the commit's physical layout spec ("" = plain parquet;
    * "bucket:&lt;col&gt;:&lt;n&gt;" = Spark bucketed files, one per bucket) — in a
    * RESOLVED snapshot it is the effective layout: a plain append on
    * top of a bucketed overwrite clears it (mixed directories cannot
    * read as one bucketed table; [[compact]] restores it).
    *
    * `rows`/`bytes` are the commit's data statistics — in a log entry
    * the files THIS commit adds, in a resolved snapshot/checkpoint the
    * cumulative live set — recorded at commit time for free (rows from
    * an `Observation` riding the staging write, bytes from the staging
    * listing), so readers and maintenance get cost hints and
    * `history()` audits reconcile WITHOUT scanning data. −1 = unknown
    * (entry predates the field); unknown is sticky through appends.
    */
  private case class Commit(version: Long, action: String, add: Seq[String],
                            schemaJson: String, layout: String = "",
                            rows: Long = -1L, bytes: Long = -1L)

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(table: String) = new Path(table, logDirName)

  private def logFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  private def checkpointFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint.json")

  // ---------------------------------------------------------------- JSON
  // Hand-rolled (strings + string arrays only) to stay dependency-free;
  // paths/schemas go through proper JSON escaping.

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def render(c: Commit): String =
    s"""{"version":${c.version},"action":"${c.action}","layout":"${esc(c.layout)}","rows":${c.rows},"bytes":${c.bytes},"add":[${
      c.add.map(p => s""""${esc(p)}"""").mkString(",")}],"schema":"${esc(c.schemaJson)}"}"""

  private def parse(line: String): Commit = {
    // minimal parser for exactly the shape `render` writes
    def field(name: String): String = {
      val m = ("\"" + name + "\":").r.findFirstMatchIn(line)
        .getOrElse(sys.error(s"corrupt log line (no $name): $line"))
      line.drop(m.end)
    }
    val version = field("version").takeWhile(_.isDigit).toLong
    val action = field("action").drop(1).takeWhile(_ != '"')
    // layout is optional: entries written before the field existed
    // (or by older checkpoints) read as plain parquet
    val layout =
      if (!line.contains("\"layout\":")) ""
      else field("layout").drop(1).takeWhile(_ != '"')
    // stats are optional: entries written before the fields existed
    // read as unknown (−1), and unknown stays sticky through appends
    // The match is anchored BEFORE the "add": field — render writes
    // rows/bytes ahead of add/schema, so a lookalike `"rows":` substring
    // inside escaped path/schema content (or a future field reorder)
    // fails loudly here instead of parsing garbage.
    val addOffset = line.indexOf("\"add\":")
    def stat(name: String): Long = {
      val key = "\"" + name + "\":"
      val at = line.indexOf(key)
      if (at < 0) -1L
      else if (addOffset >= 0 && at > addOffset)
        sys.error(s"corrupt log line ($name after add): $line")
      else {
        val digits = line.drop(at + key.length)
          .takeWhile(c => c.isDigit || c == '-')
        if (digits.isEmpty) sys.error(s"corrupt log line (non-numeric $name): $line")
        digits.toLong
      }
    }
    val rows = stat("rows")
    val bytes = stat("bytes")
    val addRaw = field("add").drop(1).takeWhile(_ != ']')
    val add = "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(addRaw)
      .map(m => unesc(m.group(1))).toSeq
    val schema = {
      val rest = field("schema").drop(1)
      // schema is the last field; scan to the unescaped closing quote
      val sb = new StringBuilder
      var i = 0
      var done = false
      while (!done && i < rest.length) {
        rest(i) match {
          case '\\' => sb.append(rest(i)).append(rest(i + 1)); i += 2
          case '"' => done = true
          case c => sb.append(c); i += 1
        }
      }
      unesc(sb.toString)
    }
    Commit(version, action, add, schema, layout, rows, bytes)
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case c => sb.append(c); i += 2
        }
      } else { sb.append(s(i)); i += 1 }
    }
    sb.toString
  }

  // ------------------------------------------------------------ log I/O

  private def writeString(f: FileSystem, p: Path, s: String,
                          exclusive: Boolean): Boolean =
    try {
      val out = f.create(p, !exclusive)
      try out.write(s.getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException if exclusive => false }

  private def readString(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** One listing of the log: (committed versions, checkpoint versions),
    * both ascending. */
  private def listLog(f: FileSystem, table: String): (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!f.exists(dir)) (Seq.empty, Seq.empty)
    else {
      val names = f.listStatus(dir).map(_.getPath.getName)
      (names.filter(n => n.endsWith(".json") && !n.contains("checkpoint"))
        .map(_.stripSuffix(".json").toLong).sorted.toSeq,
        names.filter(_.endsWith(".checkpoint.json"))
          .map(_.stripSuffix(".checkpoint.json").toLong).sorted.toSeq)
    }
  }

  /** All committed versions, ascending (checkpoint files excluded). */
  private def versions(f: FileSystem, table: String): Seq[Long] =
    listLog(f, table)._1

  /** Resolve the live file set at `asOf` (or latest): nearest checkpoint
    * ≤ asOf, then replay the tail — O(checkpointInterval) reads however
    * long the table's history is.
    */
  private def resolve(f: FileSystem, table: String, asOf: Option[Long]): Commit = {
    val (vs, allCkpts) = listLog(f, table)
    require(vs.nonEmpty, s"not a versioned table (no $logDirName): $table")
    val target = asOf match {
      case Some(v) =>
        require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
        v
      case None => vs.last
    }
    val ckpts = allCkpts.filter(_ <= target).lastOption
    val start: Commit = ckpts match {
      case Some(cv) =>
        parse(readString(f, checkpointFile(table, cv))).copy(version = target)
      case None => Commit(target, "checkpoint", Seq.empty, "", "", 0L, 0L)
    }
    // unknown (−1) is sticky: a cumulative stat is only trustworthy
    // when EVERY contributing commit recorded one
    def acc(a: Long, b: Long): Long = if (a < 0 || b < 0) -1L else a + b
    val replayFrom = ckpts.map(_ + 1).getOrElse(0L)
    vs.filter(v => v >= replayFrom && v <= target)
      .foldLeft(start) {
        (state, v) =>
          val c = parse(readString(f, logFile(table, v)))
          c.action match {
            // an append on top of a BUCKETED overwrite clears the
            // EFFECTIVE layout: mixed staged dirs cannot read as one
            // bucketed table (compact() restores it). A PARTITIONED
            // snapshot instead KEEPS its layout across layout-matching
            // appends — each dir reads partitioned and the union is the
            // snapshot (required for correctness too: partitioned files
            // do not carry the partition column, so they are only
            // readable through their directory).
            case "append" => state.copy(add = state.add ++ c.add,
              schemaJson = c.schemaJson,
              layout = if (c.layout == state.layout &&
                parsePartLayout(c.layout).isDefined) state.layout else "",
              rows = acc(state.rows, c.rows),
              bytes = acc(state.bytes, c.bytes))
            case "overwrite" => state.copy(add = c.add,
              schemaJson = c.schemaJson, layout = c.layout,
              rows = c.rows, bytes = c.bytes)
            case a => sys.error(s"unknown log action: $a")
          }
      }
  }

  // ------------------------------------------------------------- writes

  private def bucketLayout(col: String, n: Int) = s"bucket:$col:$n"

  private def parseBucketLayout(layout: String): Option[(String, Int)] =
    layout.split(":", 3) match {
      case Array("bucket", c, n) => Some((c, n.toInt))
      case _ => None
    }

  private def partLayout(col: String) = s"part:$col"

  private def parsePartLayout(layout: String): Option[String] =
    layout.split(":", 2) match {
      case Array("part", c) => Some(c)
      case _ => None
    }

  /** Stage `df` as parquet data files for version-to-be `v`, return
    * (table-relative paths, rows staged, bytes staged). The salt keeps
    * retried commits (same target version, different writers) from
    * colliding in `data/`. A bucketed layout stages through `bucketBy`
    * (Spark's bucket-id file naming is what the read-side catalog
    * entry keys on), preceded by ONE repartition on the bucket column
    * so each task holds exactly one bucket — bucketBy alone splits
    * EVERY task's output into nBuckets files, the small-files
    * anti-pattern at scale.
    *
    * Stats cost nothing extra: the row count rides the staging write
    * itself as an `Observation` (a CollectMetrics node — no second
    * scan), and the byte total falls out of the directory listing the
    * `add` entries already need.
    */
  private def stage(df: DataFrame, table: String, v: Long,
                    layout: String = "",
                    writeOptions: Map[String, String] = Map.empty)
      : (Seq[String], Long, Long) = {
    val salt = java.util.UUID.randomUUID().toString.take(8)
    val rel = s"data/v$v-$salt"
    val obs = new org.apache.spark.sql.Observation(s"graft_stage_rows_$salt")
    val d = df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
    parseBucketLayout(layout) match {
      case Some((bcol, n)) =>
        val tmp = s"graft_stage_$salt"
        d.repartition(n, org.apache.spark.sql.functions.col(bcol))
          .write.format("parquet").options(writeOptions)
          .bucketBy(n, bcol).sortBy(bcol)
          .option("path", s"$table/$rel")
          .saveAsTable(tmp)
        // the staging entry is EXTERNAL (explicit path): dropping it
        // unregisters the name, the committed files stay
        df.sparkSession.sql(s"DROP TABLE `$tmp`"): Unit
      case None => parsePartLayout(layout) match {
        case Some(pcol) =>
          // one file per partition value (the repartition), values in
          // the DIRECTORY structure — the layout dynamic partition
          // pruning keys on. The add entry is the DIR: partitioned
          // files do not carry the partition column, so per-file reads
          // would lose it; readers must go through the directory.
          d.repartition(org.apache.spark.sql.functions.col(pcol))
            .write.options(writeOptions).partitionBy(pcol)
            .parquet(s"$table/$rel")
        case None =>
          d.write.options(writeOptions).parquet(s"$table/$rel")
      }
    }
    // an EMPTY input (compacting/overwriting an empty table) can plan to
    // zero tasks, so the observation never fires — the row count is 0,
    // not an error
    val rows =
      try obs.get("rows").asInstanceOf[Long]
      catch { case _: NoSuchElementException => 0L }
    val f = fs(df.sparkSession, new Path(table))
    if (parsePartLayout(layout).isDefined)
      (Seq(rel), rows, dirBytes(f, new Path(s"$table/$rel")))
    else {
      val sts = f.listStatus(new Path(s"$table/$rel"))
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      (sts.map(s => s"$rel/${s.getPath.getName}").sorted.toSeq,
        rows, sts.map(_.getLen).sum)
    }
  }

  private def dirBytes(f: FileSystem, p: Path): Long =
    f.listStatus(p).map { st =>
      if (st.isDirectory) dirBytes(f, st.getPath)
      else if (st.getPath.getName.startsWith("part-")) st.getLen else 0L
    }.sum

  /** Commit `df` to `table` with `action` ("append" | "overwrite").
    * Optimistic concurrency: on log-entry collision the data files are
    * re-pointed at the next version (data is already durable; only the
    * log entry retries). Returns the committed version.
    */
  def commit(df: DataFrame, table: String, action: String,
             maxRetries: Int = 20, layout: String = "",
             writeOptions: Map[String, String] = Map.empty): Long = {
    require(action == "append" || action == "overwrite", s"bad action: $action")
    val spark = df.sparkSession
    val f = fs(spark, new Path(table))
    // Layout guard, BOTH directions: a partitioned table refuses
    // layout-mismatched appends (a plain append's files would not carry
    // the partition column and the snapshot would become unreadable;
    // bucketed tables just demote), and a `part:` append refuses a
    // table whose declared layout differs (landing a partitioned DIR on
    // a plain/bucketed/empty table would mix per-file adds with a dir
    // add and route partition-column resolution through the plain
    // multi-root read path). Re-checked after every lost commit race —
    // a concurrent overwrite may have changed the declared layout
    // between the first check and the log write (TOCTOU).
    def checkAppendLayout(): Unit = if (action == "append") {
      val declared =
        if (versions(f, table).isEmpty) ""
        else lastOverwriteLayout(f, table, Long.MaxValue)
      require(parsePartLayout(declared).isEmpty || layout == declared,
        s"$table is partitioned ($declared): append with appendPartitioned " +
          "so the batch lands in the same directory layout")
      require(parsePartLayout(layout).isEmpty || declared == layout,
        s"appendPartitioned($layout) onto $table whose declared layout is " +
          s"'$declared': partitioned appends are only valid on a table " +
          "overwritePartitioned with the same column")
    }
    checkAppendLayout()
    var v = versions(f, table).lastOption.map(_ + 1).getOrElse(0L)
    val staged = stage(df, table, v, layout, writeOptions)
    var attempts = 0
    while (!publish(f, table, v, action, staged, df.schema.json, layout)) {
      attempts += 1
      require(attempts <= maxRetries, s"lost $maxRetries commit races on $table")
      v = versions(f, table).lastOption.map(_ + 1).getOrElse(0L)
      checkAppendLayout()
    }
    v
  }

  /** The commit core [[commit]], [[overwriteExpecting]] and [[tryCommitAt]]
    * share: write version `v`'s log entry for already-staged files with an
    * EXCLUSIVE create (of two writers at one version exactly one wins),
    * then, on a win at a checkpoint version, the consolidated checkpoint.
    * False when another writer holds `v`.
    */
  private def publish(f: FileSystem, table: String, v: Long, action: String,
                      staged: (Seq[String], Long, Long), schemaJson: String,
                      layout: String): Boolean = {
    val (files, rows, bytes) = staged
    val ok = writeString(f, logFile(table, v),
      render(Commit(v, action, files, schemaJson, layout, rows, bytes)),
      exclusive = true)
    if (ok && v % checkpointInterval == 0 && v > 0) {
      val full = resolve(f, table, Some(v))
      writeString(f, checkpointFile(table, v),
        render(full.copy(action = "checkpoint")), exclusive = false): Unit
    }
    ok
  }

  /** `writeOptions` pass straight to the parquet writer of THIS
    * commit's staged files — the footer-stat levers a 100 TB layout
    * wants per table: `parquet.bloom.filter.enabled#col` (+ its
    * `expected.ndv#col` sizing twin) for point-probed keys,
    * `parquet.block.size` to size row groups. Per-commit by design
    * (like the layout): a compaction rewrite chooses its own options.
    */
  def append(df: DataFrame, table: String,
             writeOptions: Map[String, String] = Map.empty): Long =
    commit(df, table, "append", writeOptions = writeOptions)

  def overwrite(df: DataFrame, table: String,
                writeOptions: Map[String, String] = Map.empty): Long =
    commit(df, table, "overwrite", writeOptions = writeOptions)

  /** Overwrite with a Spark-BUCKETED physical layout: data files carry
    * bucket ids (hash(bucketCol) mod nBuckets, Murmur3 — Spark's own
    * bucketing hash), and [[read]] exposes the snapshot through a
    * catalog entry so downstream joins/aggregations on `bucketCol` need
    * NO Exchange and literal filters on it prune whole buckets at the
    * scan ("SelectedBucketsCount" in the plan). This is the persisted-
    * index layout: postings bucketed by token, ANN assignments by
    * centroid — the probe-side shuffle is paid once at build time, and
    * a probe reads only its terms'/centroids' buckets' BYTES. A later
    * plain [[append]] demotes reads to unbucketed files until
    * [[compact]] re-establishes the layout (Delta OPTIMIZE cadence).
    */
  def overwriteBucketed(df: DataFrame, table: String, bucketCol: String,
                        nBuckets: Int): Long = {
    require(df.columns.contains(bucketCol),
      s"bucket column $bucketCol not in ${df.columns.mkString(",")}")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    commit(df, table, "overwrite", layout = bucketLayout(bucketCol, nBuckets))
  }

  /** Overwrite with a DIRECTORY-PARTITIONED physical layout: rows land
    * under `partCol=value/` subdirectories (one file per value via one
    * repartition), and [[read]] exposes the snapshot as a partitioned
    * parquet relation — literal filters prune whole directories
    * STATICALLY, and an equality join against a broadcast side prunes
    * them DYNAMICALLY (Spark DPP: the probe values compute at runtime
    * and only their directories' bytes are read). This is the
    * byte-level lever bucketing cannot give a data-dependent probe
    * join — the IVF-probe layout (partition by centroid): a query
    * batch reads ~nProbes/nCentroids of the assignment BYTES. Use for
    * bounded-cardinality keys (each value is a directory); appends
    * must be [[appendPartitioned]] with the same column, and unlike
    * bucketing the layout SURVIVES appends (each dir reads
    * partitioned; compact() re-merges small per-append files).
    */
  def overwritePartitioned(df: DataFrame, table: String,
                           partCol: String): Long = {
    require(df.columns.contains(partCol),
      s"partition column $partCol not in ${df.columns.mkString(",")}")
    commit(df, table, "overwrite", layout = partLayout(partCol))
  }

  /** Append preserving a partitioned table's layout (see
    * [[overwritePartitioned]]); refuses a column mismatch. */
  def appendPartitioned(df: DataFrame, table: String, partCol: String): Long =
    commit(df, table, "append", layout = partLayout(partCol))

  /** Overwrite re-establishing the table's DECLARED layout — what a
    * content-CHANGING maintenance rewrite (a tombstone drop, a stop-list
    * recap) uses where plain [[compact]] would preserve content: the new
    * snapshot lands bucketed/partitioned exactly as the last overwrite
    * declared, so probes keep their pruning across the rewrite.
    */
  def overwriteLike(df: DataFrame, table: String): Long = {
    val layout = declaredLayout(df.sparkSession, table)
    parseBucketLayout(layout).map { case (c, n) =>
      overwriteBucketed(df, table, c, n)
    }.orElse(parsePartLayout(layout).map { c =>
      overwritePartitioned(df, table, c)
    }).getOrElse(overwrite(df, table))
  }

  /** Compare-and-swap overwrite: commit ONLY if it lands exactly at
    * `expected` — no retry onto the next free version. This is the
    * primitive multi-table artifacts need (an ANN index's or signal
    * state's tables advancing in lockstep): writers commit their
    * tables in one fixed order with the same `expected`, so of two
    * concurrent writers the one that loses the FIRST table's log-entry
    * race aborts before committing anything — a lost update becomes a
    * clean failure instead of silently vanishing counts. Staged data
    * files of an aborted commit are orphans for [[vacuum]].
    */
  def overwriteExpecting(df: DataFrame, table: String, expected: Long): Long = {
    require(expected >= 0, s"bad expected version: $expected")
    val spark = df.sparkSession
    val f = fs(spark, new Path(table))
    val next = versions(f, table).lastOption.map(_ + 1).getOrElse(0L)
    require(next == expected,
      s"stale snapshot on $table: expected to commit v$expected but the " +
        s"table is at v${next - 1} — a concurrent writer advanced it; " +
        "re-read the latest state before retrying")
    require(publish(f, table, expected, "overwrite", stage(df, table, expected),
        df.schema.json, ""),
      s"lost the commit race on $table at v$expected (concurrent writer) — " +
        "re-read the latest state before retrying")
    expected
  }

  /** MERGE into the versioned table: read the latest snapshot, merge
    * the updates ([[graft.operators.Upsert.merge]] semantics), commit
    * the post-merge state as a new version. First merge into an empty
    * table is the initial load.
    */
  def merge(updates: DataFrame, table: String, keys: Seq[String],
            orderCol: Option[String] = None): Long = {
    val spark = updates.sparkSession
    val f = fs(spark, new Path(table))
    if (versions(f, table).isEmpty) {
      val init = orderCol match {
        case Some(c) => graft.operators.Ranking.topPerGroup(
          updates, keys.map(org.apache.spark.sql.functions.col),
          Seq(org.apache.spark.sql.functions.col(c).desc), 1)
        case None => updates
      }
      commit(init, table, "overwrite")
    } else {
      // materialize the merge BEFORE committing: the new version's data
      // derives from the old version's files, which stay immutable
      commit(graft.operators.Upsert.merge(read(spark, table), updates, keys, orderCol),
        table, "overwrite")
    }
  }

  /** Commit `df` at EXACTLY version `v`, or return false if another
    * writer got there first — the conflict-DETECTING commit that
    * read-modify-write maintenance ([[compact]]) needs: its output is
    * derived from version v−1, so blind re-numbering (what [[commit]]'s
    * retry does, correct for self-contained appends/overwrites) would
    * silently drop whatever the interleaved commit added. Losing
    * stagers leave unreferenced data files; [[vacuum]] reclaims them.
    */
  private def tryCommitAt(df: DataFrame, table: String, action: String,
                          v: Long, layout: String = ""): Boolean =
    publish(fs(df.sparkSession, new Path(table)), table, v, action,
      stage(df, table, v, layout), df.schema.json, layout)

  /** Compact the current snapshot into ~`targetFileMB`-sized files as a
    * new "overwrite" version — Delta's OPTIMIZE: the daily-append
    * cadence (incremental curation batches, ANN index appends) leaves
    * one small file set per commit, and object-store scan cost grows
    * with file COUNT, not just bytes. Rewrites via `coalesce` (merge
    * only, no shuffle — compaction is an IO rewrite, not a
    * repartition). Readers are never disturbed: pre-compaction versions
    * time-travel until [[vacuum]] reclaims them. Concurrency-safe the
    * way Delta OPTIMIZE is: the compacted output derives from a pinned
    * snapshot and commits via [[tryCommitAt]], so an append that lands
    * mid-compaction wins and the compaction re-reads and retries —
    * never silently dropping the interleaved rows. Returns the
    * committed version.
    */
  def compact(spark: SparkSession, table: String, targetFileMB: Int = 128,
              maxRetries: Int = 20): Long = {
    val f = fs(spark, new Path(table))
    var attempts = 0
    while (true) {
      val snap = resolve(f, table, None)
      // if the table's last overwrite declared a bucketed layout,
      // compaction RE-ESTABLISHES it (the Delta OPTIMIZE contract for
      // this format): appends demoted reads to plain files; the rewrite
      // re-buckets the whole snapshot so probes get their no-Exchange /
      // bucket-pruned scans back. Plain tables coalesce to ~target-MB
      // files as before.
      val layout = lastOverwriteLayout(f, table, snap.version)
      val current = read(spark, table, Some(snap.version))
      val compacted =
        if (layout.nonEmpty) current // bucketed staging repartitions itself
        else {
          // the log's cumulative byte stat sizes the rewrite without a
          // per-file getFileStatus round trip (one RPC per file on an
          // object store); listing is only the pre-stats fallback
          val totalBytes =
            if (snap.bytes >= 0) snap.bytes
            else snap.add
              .map(p => f.getFileStatus(new Path(s"$table/$p")).getLen).sum
          val nFiles = math.max(1L, math.ceil(
            totalBytes.toDouble / (targetFileMB * 1024L * 1024L)).toLong).toInt
          current.coalesce(nFiles)
        }
      if (tryCommitAt(compacted, table, "overwrite", snap.version + 1, layout))
        return snap.version + 1
      attempts += 1
      require(attempts <= maxRetries, s"lost $maxRetries compaction races on $table")
    }
    -1L // unreachable
  }

  /** Layout of the last "overwrite" ≤ `upTo` — what a compaction must
    * re-establish. Scans raw log entries backwards (log files are never
    * deleted; checkpoints only consolidate), so this survives
    * checkpointed histories.
    */
  private def lastOverwriteLayout(f: FileSystem, table: String,
                                  upTo: Long): String =
    versions(f, table).filter(_ <= upTo).reverse.iterator
      .map(v => parse(readString(f, logFile(table, v))))
      .collectFirst { case c if c.action == "overwrite" => c.layout }
      .getOrElse("")

  // -------------------------------------------------------------- reads

  /** Resolved-relation cache keyed by (session, table, version) — the
    * [[graft.Tables]] relation-cache discipline extended to versioned
    * snapshots: a (table, version) file set is IMMUTABLE by
    * construction (log files are never rewritten; appends/overwrites
    * mint new versions and staged dirs never receive files after their
    * commit), so a cached plan (file index + schema) cannot go stale —
    * except through [[vacuum]], which deletes dropped versions' files
    * and therefore clears the table's entries. The PLAN is cached
    * (file listing + relation); row data only for the small constant
    * tables read through [[rows]]. `resolve` still runs per read, so
    * "latest" always re-resolves against the log. Without
    * this every probe of a persisted index re-lists and re-plans 4+
    * tables per call — driver-side overhead a metastore amortizes in
    * production (guide §6: file listing is a real cost at scale).
    */
  private val relationCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
      scala.collection.concurrent.TrieMap[(Long, Int), Cached]]

  /** One relation-cache entry: the resolved relation, its access tick,
    * and the rows [[rows]] collected from it, per column list. The rows
    * live and die with the entry (same key, retention and [[vacuum]]
    * invalidation), so they are as immutable as the file set they came
    * from.
    */
  private final case class Cached(df: DataFrame, touch: Long,
      rows: scala.collection.concurrent.TrieMap[Seq[String], IndexedSeq[Row]])

  /** Access clock: each hit or insert stamps its entry with the next
    * tick, so eviction drops the least recently READ entries. */
  private val relationTouch = new java.util.concurrent.atomic.AtomicLong

  /** Entries retained per (session, table): the live version plus the
    * handful of pinned `asOf` reads a maintenance/audit path touches.
    * Long-lived sessions otherwise accumulate one plan-sized entry per
    * (version, digest) between vacuums (r17 VERDICT #6) — bounded here
    * by evicting the least recently read entries beyond this count on
    * each read (never the one just read: evicting by version number
    * dropped a pin older than the cached ones right after inserting it,
    * so every such read re-planned).
    */
  private val relationCacheRetain = 4

  /** Test hook: live relation-cache entries for `table`. */
  private[graft] def relationCacheEntries(table: String): Int =
    relationCache.collect { case (k, es) if k._2 == table => es.size }.sum

  /** Drop cached relations for `table` (every session/version) — called
    * by [[vacuum]]; required by anything else that DELETES files under
    * a committed version instead of minting a new one.
    */
  def invalidateRelations(table: String): Unit =
    relationCache.keys.filter(_._2 == table)
      .foreach(relationCache.remove(_): Unit)

  /** Snapshot-isolated read of `table` at `asOf` (default: latest).
    * The schema comes from the LOG (written at commit time), not from
    * file footers — schema-on-read is pinned to schema-at-commit.
    */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame =
    cached(spark, table, asOf).df

  /** The rows of `cols` of `table` at `asOf`, collected ONCE per (table,
    * version) and kept on the relation-cache entry — the per-version
    * constants a probe plans as literals (BM25 corpus stats, tombstone
    * ids, IVF centroids) instead of scanning and broadcasting them per
    * request. A repeat read of the same snapshot
    * runs no job; a new commit, a [[vacuum]] or a rebuilt directory
    * (new file digest) is read afresh. Only for tables that are small by
    * construction: the rows are held in memory.
    */
  def rows(spark: SparkSession, table: String, asOf: Option[Long],
           cols: Seq[String]): IndexedSeq[Row] = {
    val c = cached(spark, table, asOf)
    c.rows.getOrElseUpdate(cols, c.df.select(cols.map(n =>
      org.apache.spark.sql.functions.col(s"`$n`")): _*).collect().toIndexedSeq)
  }

  private def cached(spark: SparkSession, table: String,
                     asOf: Option[Long]): Cached = {
    val f = fs(spark, new Path(table))
    val snap = resolve(f, table, asOf)
    relationCache.keys.foreach { k =>
      if (k._2 == table && k._1.sparkContext.isStopped)
        relationCache.remove(k): Unit
    }
    // the key carries a digest of the snapshot's FILE SET (staged dirs
    // embed a random salt), so a table dir that is deleted and rebuilt
    // from scratch — same path, version numbers restarting at 0 — can
    // never serve a stale cached file index (the q117 state-dir wipe
    // shape); it simply mints a new key.
    val key = (snap.version, (snap.add, snap.schemaJson, snap.layout).hashCode())
    val entries = relationCache.getOrElseUpdate((spark, table),
      scala.collection.concurrent.TrieMap.empty)
    val c = entries.get(key).getOrElse(Cached(readUncached(spark, table, snap),
      0L, scala.collection.concurrent.TrieMap.empty))
      .copy(touch = relationTouch.incrementAndGet())
    entries.put(key, c): Unit
    // retention per (session, table): keep the most recently read
    // entries (plan-sized, but a long-lived session re-reading a
    // churning table should not grow without limit)
    entries.toSeq.filter(_._1 != key).sortBy(-_._2.touch)
      .drop(relationCacheRetain - 1)
      .foreach(e => entries.remove(e._1): Unit)
    c
  }

  private def readUncached(spark: SparkSession, table: String,
                           snap: Commit): DataFrame = {
    val f = fs(spark, new Path(table))
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    if (snap.add.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (parsePartLayout(snap.layout).isDefined) {
      // every add entry of a partitioned snapshot is a staged DIR; each
      // reads as its own partitioned relation (basePath = the dir, so
      // the partCol=value segments resolve as the partition column) and
      // the union is the snapshot. A single-dir snapshot (build or
      // post-compact) gets full static + dynamic partition pruning.
      snap.add.map { dir =>
        spark.read.schema(schema)
          .option("basePath", s"$table/$dir")
          .parquet(s"$table/$dir")
          .select(schema.fieldNames.map(n => org.apache.spark.sql.functions
            .col(s"`$n`")): _*)
      }.reduce(_ unionByName _)
    } else {
      val bucketed = parseBucketLayout(snap.layout).flatMap { case (bcol, n) =>
        // a bucketed snapshot's files all come from ONE staged dir (the
        // resolve fold clears layout on append); the dirs check is belt
        val dirs = snap.add.map(p => p.take(p.lastIndexOf('/'))).distinct
        if (dirs.size == 1)
          Some(bucketedTable(spark, f, s"$table/${dirs.head}", schema, bcol, n))
        else None
      }
      bucketed.getOrElse(
        spark.read.schema(schema).parquet(snap.add.map(p => s"$table/$p"): _*))
    }
  }

  /** Read a committed bucketed data dir through a session catalog entry.
    * Spark's bucket metadata lives in the CATALOG, not the files: a
    * plain file read of the same parquet loses the hash(bucketCol)
    * outputPartitioning and bucket pruning. The entry is EXTERNAL,
    * content-addressed on the dir (stable per table version, so time
    * travel gets its own entry), and recreated on demand in a fresh
    * session — the files, not the catalog, are the durable state.
    */
  private def bucketedTable(spark: SparkSession, f: FileSystem, dir: String,
                            schema: StructType, bucketCol: String,
                            nBuckets: Int): DataFrame = {
    val qualified = f.makeQualified(new Path(dir)).toString
    val name = "graft_b_" + java.security.MessageDigest.getInstance("MD5")
      .digest(qualified.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    if (!spark.catalog.tableExists(name))
      spark.sql(s"CREATE TABLE IF NOT EXISTS `$name` (${schema.toDDL}) " +
        s"USING PARQUET CLUSTERED BY (`$bucketCol`) SORTED BY (`$bucketCol`) " +
        s"INTO $nBuckets BUCKETS LOCATION '${qualified.replace("'", "''")}'"): Unit
    spark.table(name)
  }

  /** The layout the table's last overwrite DECLARED (what compaction
    * re-establishes and what appends must match on a partitioned
    * table); "" for plain tables.
    */
  def declaredLayout(spark: SparkSession, table: String): String = {
    val f = fs(spark, new Path(table))
    lastOverwriteLayout(f, table, Long.MaxValue)
  }

  /** True if `table` has at least one committed version. */
  def exists(spark: SparkSession, table: String): Boolean =
    versions(fs(spark, new Path(table)), table).nonEmpty

  /** Latest committed version number. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val vs = versions(fs(spark, new Path(table)), table)
    require(vs.nonEmpty, s"not a versioned table: $table")
    vs.last
  }

  // ------------------------------------------------- multi-table artifacts

  /** A multi-table artifact, declared once: its `name`, its `tables`
    * (relative to the artifact's dir) in COMMIT ORDER — the lockstep set
    * a read pins ([[lockstep]]) and a writer commits ([[rewrite]],
    * [[overwriteAt]]) — and the `remedy` a refusal of a wedged dir names.
    * No reader or writer lists an artifact's tables, compares their
    * versions or pads them by hand: it names its declaration.
    */
  final case class Artifact(name: String, tables: Seq[String], remedy: String)

  /** Each declared table of `a` under `dir` with its latest version
    * (None = never committed). */
  private def heads(spark: SparkSession, dir: String,
                    a: Artifact): Seq[(String, Option[Long])] =
    a.tables.map(t => t -> versions(fs(spark, new Path(dir)), s"$dir/$t").lastOption)

  /** The read-side LOCKSTEP rule, and the version a read of `a` under
    * `dir` pins. A pinned read names its own version (`asOf`, returned
    * unchecked). A latest read requires every declared table at one
    * shared latest version: a table missing beside the others means a
    * first build crashed between its commits, and one table ahead of the
    * others means a later multi-table commit did — reading the set anyway
    * would join new rows against stale (or absent) ones. The refusal
    * names the artifact's remedy. Index, model and signal-state reads,
    * batch and streaming, pin through here, and every multi-table writer
    * ends with it ([[committed]]).
    */
  def lockstep(spark: SparkSession, dir: String, a: Artifact,
               asOf: Option[Long]): Long =
    asOf.getOrElse {
      val hs = heads(spark, dir, a)
      val present = hs.collect { case (t, Some(v)) => s"$t v$v" }
      require(present.nonEmpty,
        s"$dir holds none of the versioned tables ${a.tables.mkString(", ")}")
      val remedy = s"${a.remedy}, or pin an intact version with asOf"
      val missing = hs.collect { case (t, None) => t }
      require(missing.isEmpty, s"$dir tables out of lockstep: " +
        s"${missing.mkString(", ")} missing beside ${present.mkString(", ")}" +
        s" — a first build crashed between commits; $remedy")
      require(hs.flatMap(_._2).distinct.size == 1, s"$dir tables out of " +
        s"lockstep (${present.mkString(", ")}) — a build or append crashed " +
        s"between commits; $remedy")
      hs.head._2.get
    }

  /** True when every declared table of `a` exists under `dir` at one
    * latest version — what [[lockstep]] accepts. */
  def intact(spark: SparkSession, dir: String, a: Artifact): Boolean =
    PartialFunction.cond(heads(spark, dir, a).map(_._2).distinct) { case Seq(Some(_)) => true }

  /** True when any declared table of `a` has committed under `dir`. */
  def exists(spark: SparkSession, dir: String, a: Artifact): Boolean =
    heads(spark, dir, a).exists(_._2.isDefined)

  /** The lockstep check a multi-table writer ends with: every table of
    * `a` under `dir` at the version `v` it committed. Returns `v`. */
  def committed(spark: SparkSession, dir: String, a: Artifact, v: Long): Long = {
    val at = lockstep(spark, dir, a, None)
    require(at == v, s"$dir ${a.name} tables landed at v$at, the writer " +
      s"committed v$v — a concurrent writer interleaved")
    v
  }

  /** The ONE commit rule for a FULL rewrite of `a` under `dir` (a build, a
    * retrain): `commit` writes every declared table, in declared order, at
    * the version it is handed, and the rule then checks the set back into
    * lockstep there ([[committed]]). The version is chosen so that a crash
    * between a prior writer's commits heals here instead of wedging every
    * later rewrite:
    *
    *  - no declared table exists: v0;
    *  - every table exists, versions skewed (a rewrite or append crashed
    *    between its commits): the lagging tables are padded with
    *    content-identical commits ([[pad]]) and the set commits at max+1.
    *    The pad versions are gap versions that never existed as a
    *    consistent set — pin at or before the gap, or at the new head;
    *  - some tables missing (a FIRST build crashed, so no consistent
    *    version ever existed): the partial tables are dropped ([[drop]]),
    *    then v0.
    *
    * An intact set commits at latest+1, as a plain overwrite would; the
    * rule itself reads logs only. Returns the committed version.
    */
  def rewrite(spark: SparkSession, dir: String, a: Artifact)
             (commit: Long => Unit): Long = {
    val hs = heads(spark, dir, a)
    val v =
      if (hs.forall(_._2.isDefined)) {
        val top = hs.flatMap(_._2).max
        pad(spark, dir, a.tables, top)
        top + 1
      } else {
        hs.collect { case (t, Some(_)) => drop(spark, s"$dir/$t") }
        0L
      }
    commit(v)
    committed(spark, dir, a, v)
  }

  /** Commit `frames` to `a`'s tables under `dir`, in declared order, each
    * as a compare-and-swap overwrite at exactly `v` ([[overwriteExpecting]]:
    * of two writers that pinned the same version, the loser fails at the
    * FIRST table before committing anything), then the lockstep check at
    * `v`. The frames a read-modify-write writer derived from its pin land
    * at pin+1; a full rewrite passes this as its [[rewrite]] body.
    */
  def overwriteAt(dir: String, a: Artifact, frames: Seq[DataFrame],
                  v: Long): Long = {
    require(frames.size == a.tables.size, s"${a.name} commits ${a.tables}")
    a.tables.zip(frames).foreach(t => overwriteExpecting(t._2, s"$dir/${t._1}", v))
    committed(frames.head.sparkSession, dir, a, v)
  }

  /** Pad each of `tables` under `dir` up to version `to` with
    * content-identical overwrites of its latest snapshot in its declared
    * layout, each a compare-and-swap at the next version — the catch-up a
    * full rewrite over a skewed set ([[rewrite]]) and a repair that
    * re-aligns lagging tables share.
    */
  def pad(spark: SparkSession, dir: String, tables: Seq[String], to: Long): Unit =
    for (t <- tables; table = s"$dir/$t"; f = fs(spark, new Path(table));
         v <- versions(f, table).last until to)
      require(tryCommitAt(read(spark, table, Some(v)), table, "overwrite",
          v + 1, lastOverwriteLayout(f, table, v)),
        s"lost the commit race on $table at v${v + 1} (concurrent writer)")

  /** Delete `path` — a table, or a whole artifact dir — through its
    * Hadoop FileSystem (any scheme, `file://` URIs included), and forget
    * every cached relation under it. */
  def drop(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fs(spark, p).delete(p, true): Unit
    relationCache.keys.filter(_._2.startsWith(path)).foreach(relationCache.remove(_): Unit)
  }

  /** Table history: (version, action, fileCount) ascending. */
  def history(spark: SparkSession, table: String): Seq[(Long, String, Int)] =
    historyStats(spark, table).map(h => (h._1, h._2, h._3))

  /** Table history with each commit's own data stats:
    * (version, action, fileCount, rows, bytes) ascending — rows/bytes
    * are the files THAT commit added (−1 = entry predates stats), so
    * an audit reconciles growth commit by commit without scanning data.
    */
  def historyStats(spark: SparkSession,
                   table: String): Seq[(Long, String, Int, Long, Long)] = {
    val f = fs(spark, new Path(table))
    versions(f, table).map { v =>
      val c = parse(readString(f, logFile(table, v)))
      (v, c.action, c.add.length, c.rows, c.bytes)
    }
  }

  /** Cumulative (rows, bytes) of the LIVE file set at `asOf` (default
    * latest), resolved from the commit log alone — no file listing, no
    * data scan; survives checkpoint replay because checkpoints persist
    * the running totals. None when any contributing commit predates
    * the stats fields.
    */
  def snapshotStats(spark: SparkSession, table: String,
                    asOf: Option[Long] = None): Option[(Long, Long)] = {
    val snap = resolve(fs(spark, new Path(table)), table, asOf)
    if (snap.rows < 0 || snap.bytes < 0) None else Some((snap.rows, snap.bytes))
  }

  /** Drop data files no longer referenced by ANY version ≥
    * `retainVersions` back from latest (older time travel stops
    * working — the documented trade, same as Delta's VACUUM).
    */
  def vacuum(spark: SparkSession, table: String, retainVersions: Int = 2): Int = {
    // cached (table, version) relations may reference files this drops
    invalidateRelations(table)
    val f = fs(spark, new Path(table))
    val vs = versions(f, table)
    require(vs.nonEmpty, s"not a versioned table: $table")
    val keep = vs.takeRight(math.max(1, retainVersions))
      .flatMap(v => resolve(f, table, Some(v)).add).toSet
    val dataDir = new Path(table, "data")
    if (!f.exists(dataDir)) return 0
    var removed = 0
    f.listStatus(dataDir).filter(_.isDirectory).foreach { d =>
      val dirRel = s"data/${d.getPath.getName}"
      if (keep.contains(dirRel)) ()  // partitioned commit, referenced whole
      else if (f.listStatus(d.getPath).exists(_.isDirectory)) {
        // partitioned staged dir no version references: count its files,
        // drop the tree (per-file deletion cannot apply — the add entry
        // was the dir itself)
        removed += countFiles(f, d.getPath)
        f.delete(d.getPath, true): Unit
      } else {
        f.listStatus(d.getPath).filter(_.isFile).foreach { file =>
          val rel = s"$dirRel/${file.getPath.getName}"
          if (file.getPath.getName.startsWith("part-") && !keep.contains(rel)) {
            if (f.delete(file.getPath, false)) removed += 1
          }
        }
        if (f.listStatus(d.getPath).isEmpty) f.delete(d.getPath, true): Unit
      }
    }
    removed
  }

  private def countFiles(f: FileSystem, p: Path): Int =
    f.listStatus(p).map { st =>
      if (st.isDirectory) countFiles(f, st.getPath)
      else if (st.getPath.getName.startsWith("part-")) 1 else 0
    }.sum
}
