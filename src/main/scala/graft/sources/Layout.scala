package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Physical-layout levers for the warehouse path: bucketing for
  * co-located joins.
  *
  * At 100 TB the dominant cost of a fact⋈fact join is the shuffle of both
  * sides. Writing the tables bucketed on the join key (same bucket count,
  * same key) makes the partitioning part of the STORED layout: Catalyst
  * recognizes the matching `HashPartitioning` on both scans and plans a
  * sort-merge join with ZERO Exchange — each task reads bucket i of both
  * tables. The price is paid once at write time (one shuffle into
  * buckets), then every subsequent join, aggregate or dedup keyed on the
  * bucket column is exchange-free; for append-heavy fact tables that
  * ratio is strongly in bucketing's favor.
  *
  * Bucketed tables go through the session catalog (`saveAsTable` — plain
  * `parquet(path)` cannot record bucket metadata). BucketedJoinSpec
  * asserts the exchange-free plan shape end to end.
  */
object Layout {

  /** Write `df` as a bucketed catalog table (overwriting), bucketed AND
    * sorted by `key` into `buckets` files per partition — sorted buckets
    * let the merge join skip its sort when bucket files are read in
    * order.
    *
    * The pre-`repartition(buckets, key)` is load-bearing: it uses the
    * SAME murmur3 HashPartitioning modulo the same count as the bucket
    * spec, so each write task holds exactly one bucket and each bucket
    * lands in ONE file. Without it every write task emits a file per
    * bucket it touches, and Spark only trusts a bucket's sort order when
    * the bucket is a single file — multi-file buckets re-SORT both fact
    * sides under every merge join (no Exchange in the plan, but ~1.5 s
    * of hidden sort per 60M-row side at sf10 — the residue the r16
    * bucketed q5 measurement traced). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** The co-located join of two same-key bucketed tables. Plain
    * `spark.table(a).join(spark.table(b), key)` — the exchange-free plan
    * comes from the stored layout, not from hints; this helper only names
    * the pattern. */
  def colocatedJoin(spark: org.apache.spark.sql.SparkSession,
      left: String, right: String, key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  case class CompactionStats(
      partitionsCompacted: Int, filesBefore: Long, filesAfter: Long,
      leavesSkipped: Int = 0, trashRecovered: Int = 0)

  /** Small-files compaction for batch-append sinks — the first
    * operational problem a per-micro-batch appender (ingest's and
    * PromotionStream's `b<batchId>-` file appends into `dt=` leaves)
    * creates at 100 TB/day: thousands of KB-sized parquet files per
    * partition, each costing a task + a footer read per query.
    *
    * Per LEAF partition directory: if the file count exceeds
    * `ceil(bytes/targetBytes)`, the partition is re-read, coalesced to
    * that file count, written to a dot-prefixed sibling dir (invisible to
    * readers), and SWAPPED in via two directory renames (old → trash,
    * new → final, trash deleted). Each rename is atomic, but the PAIR is
    * not: a reader that lists the parent in the sub-millisecond window
    * between them sees the partition ABSENT (zero rows or a
    * file-not-found retry), never a mix of old and new files. Run
    * compaction when a transiently missing partition is tolerable (or no
    * reader races it). A crash between the renames strands the data in a
    * discoverable `_compact-<leaf>.old` sibling (underscore-prefixed:
    * parquet readers ignore it but directory listings show it); the next
    * compact() run restores it automatically before doing any new work.
    *
    * SAFETY PRECONDITIONS (enforced):
    *   - The sink must NOT be a Structured Streaming `FileStreamSink`
    *     (`_spark_metadata` present): the sink log pins exact file names,
    *     so rewriting files both breaks log-resolved batch reads and
    *     deletes files the log references. compact() throws on such
    *     paths — stop-the-stream compaction of a sink-logged store needs
    *     a transactional log rewrite this helper does not attempt.
    *   - Concurrent appenders that only CREATE NEW leaf dirs never
    *     collide: compaction touches only leaves that existed at its
    *     listing snapshot (CompactionSpec proves content equality under
    *     a live appender). An appender that commits files
    *     into an EXISTING leaf mid-compaction (late event-time rows into
    *     a closed dt partition) is also safe in EVERY window: a commit
    *     before the swap-out rides into the trash and the late-append
    *     sweep moves it into the rewritten leaf; a commit BETWEEN the
    *     two renames recreates the leaf dir, and the swap-in folds its
    *     files into the trash, clears the husk and retries (never
    *     renaming onto an existing dir). Crash-covered by the
    *     `_compact_snapshot` manifest that rides into the trash and
    *     records both the snapshot AND the rewritten file names, so
    *     recovery can verify a present leaf is the rewrite before it
    *     drops the trash — an appender husk from a failed swap-in is
    *     restored instead (CompactionSpec's race tests). `skipLeaf`
    *     remains useful to avoid churning a hot open partition, not for
    *     correctness.
    *
    * Partition-column values live in the directory names, not the files,
    * so the rewrite round-trips them untouched. */
  /** `rewrite` transforms the coalesced snapshot before it is written —
    * indexes whose probes lean on within-file ordering for row-group
    * stats pruning ([[graft.search.TextIndex]] sorts postings by token,
    * [[graft.search.DedupIndex]] sorts band hashes) pass a
    * `sortWithinPartitions` here, since concatenating sorted files
    * yields an unsorted file and would silently degrade pruning. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long,
      skipLeaf: org.apache.hadoop.fs.Path => Boolean = _ => false,
      onBeforeSwap: org.apache.hadoop.fs.Path => Unit = _ => (),
      onAfterSwapOut: org.apache.hadoop.fs.Path => Unit = _ => (),
      skipFile: org.apache.hadoop.fs.Path => Boolean = _ => false,
      rewrite: DataFrame => DataFrame = identity)
      : CompactionStats = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(root, "_spark_metadata")))
      throw new IllegalArgumentException(
        s"compact: $path is a FileStreamSink store (_spark_metadata " +
          "present); its sink log pins file names, so compaction would " +
          "lose logged files and break log-resolved reads. Re-materialize " +
          "the store with a batch write instead.")
    val Trash = "_compact-(.+)\\.old".r
    // Trash names must contain NO '=': Spark's hidden-path filter skips
    // underscore-prefixed names UNLESS they contain '=' (kept visible to
    // support partition columns whose name starts with '_'), so a reader
    // racing the swap window would list `_compact-dt=...old`, partition-
    // parse it, and die with CONFLICTING_PARTITION_COLUMN_NAMES — found
    // by CompactionSpec's tail-race test (VERDICT r12 item 8). '=' is
    // encoded out of the name; recovery decodes, and a legacy '='-style
    // trash from an older store still matches and decodes to itself.
    // injective encoding: '%' is escaped FIRST, so a leaf whose VALUE
    // legitimately contains the literal "%3D" (Spark writes '=' inside
    // partition values as %3D) round-trips exactly; decode applies the
    // inverse in reverse order. Legacy '='-style trash (pre-r13) decodes
    // to itself (it contains neither escape).
    def trashNameOf(leaf: String): String =
      s"_compact-${leaf.replace("%", "%25").replace("=", "%3D")}.old"
    def leafOfTrash(encoded: String): String =
      encoded.replace("%3D", "=").replace("%25", "%")
    val SnapshotManifest = "_compact_snapshot"
    def dataNames(dir: Path): Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir)
        .filter(s => s.isFile && isData(s.getPath))
        .map(_.getPath.getName).toSet
    // Manifest: "v2" header, then "S <name>" (snapshot = files the
    // rewrite read) and "R <name>" (files the rewrite PRODUCED) lines.
    // The R section lets recovery verify that an existing leaf really IS
    // the rewrite before it drops the trash — without it, a leaf
    // recreated by a concurrent appender during a failed swap-in is
    // indistinguishable from a successful swap, and dropping the trash
    // would delete the only copy of the originals (ADVICE r9). A
    // headerless manifest (pre-v2 crash remnant) parses as
    // snapshot-only.
    def readManifest(trashDir: Path): Option[(Set[String], Option[Set[String]])] = {
      val mfPath = new Path(trashDir, SnapshotManifest)
      if (!fs.exists(mfPath)) return None
      val in = fs.open(mfPath)
      val lines =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
        finally in.close()
      if (lines.headOption.contains("v2"))
        Some((lines.collect { case l if l.startsWith("S ") => l.drop(2) }.toSet,
          Some(lines.collect { case l if l.startsWith("R ") => l.drop(2) }.toSet)))
      else Some((lines.toSet, None))
    }
    // crash recovery: resolve any stranded swap left by a previous run.
    //   leaf absent              -> rename the trash back (swap-in never
    //                               happened)
    //   leaf present, NOT the rewrite (v2 manifest's R-files missing)
    //                            -> an appender recreated it during a
    //                               failed swap-in: fold its files into
    //                               the trash and restore the trash
    //   leaf present, is the rewrite (or no rewrite info to check)
    //                            -> swap-in succeeded; sweep late files
    //                               out of the trash, then drop it
    // Any failed rename leaves the trash in place for the next run —
    // recovery never deletes data it has not verified as rewritten.
    var recovered = 0
    def recover(dir: Path): Unit =
      fs.listStatus(dir).filter(_.isDirectory).foreach { s =>
        s.getPath.getName match {
          case Trash(encodedLeaf) =>
            val leaf = leafOfTrash(encodedLeaf)
            val dest = new Path(dir, leaf)
            val staleTmp = new Path(dir, s".compact-$leaf.tmp")
            val manifest = readManifest(s.getPath)
            val snap = manifest.map(_._1).getOrElse(Set.empty[String])
            val destIsRewrite = manifest.flatMap(_._2) match {
              case Some(rw) => rw.nonEmpty && rw.subsetOf(dataNames(dest))
              case None => true // pre-v2 / no manifest: keep the old behavior
            }
            if (!fs.exists(dest)) {
              if (fs.rename(s.getPath, dest)) { recovered += 1; fs.delete(staleTmp, true) }
            } else if (!destIsRewrite) {
              // dest is an appender husk from the failed-swap window:
              // its files are committed appends -> preserve them in the
              // trash (they are not in the snapshot, so the late sweep
              // logic finds them again), clear the husk, restore
              fs.listStatus(dest)
                .filter(f => f.isFile && isData(f.getPath))
                .foreach { f =>
                  val to = new Path(s.getPath, f.getPath.getName)
                  if (!fs.exists(to)) fs.rename(f.getPath, to)
                }
              if (dataNames(dest).isEmpty && fs.delete(dest, true)
                  && fs.rename(s.getPath, dest)) {
                recovered += 1
                fs.delete(staleTmp, true)
              }
            } else {
              // swap-in succeeded but the run died before its late-append
              // sweep: preserve any trash file NOT in the snapshot
              // manifest (a concurrent commit) before dropping the trash.
              // No manifest at all -> nothing to distinguish late files
              // by; skip the sweep (the pre-manifest behavior).
              if (manifest.isDefined)
                fs.listStatus(s.getPath)
                  .filter(f => f.isFile && isData(f.getPath)
                    && !snap.contains(f.getPath.getName))
                  .foreach { late =>
                    val to = new Path(dest, late.getPath.getName)
                    if (!fs.exists(to)) fs.rename(late.getPath, to)
                  }
              fs.delete(s.getPath, true)
              fs.delete(staleTmp, true)
            }
          case n if !n.startsWith(".") && !n.startsWith("_") =>
            recover(s.getPath)
          case _ => ()
        }
      }
    recover(root)
    var before = 0L
    var after = 0L
    var compacted = 0
    var skipped = 0
    leaves(fs, root).foreach { dir =>
      if (skipLeaf(dir)) skipped += 1
      else {
        // skipFile excludes a file from the rewrite SNAPSHOT entirely: it
        // rides into the trash un-rewritten and the late-append sweep
        // (not-in-snapshot) carries it back into the rewritten leaf
        // untouched. Callers use it for files a concurrent protocol may
        // still delete-by-name (an ingest replay's uncommitted `b<id>-`
        // leftovers) — folding those into a rewrite would strand rows the
        // protocol believes it removed.
        def dataFiles() = leafFiles(fs, dir, skipFile)
        val files = dataFiles()
        val bytes = files.map(_.getLen).sum
        val want = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
        before += files.length
        if (files.length > want) {
          val tmp = new Path(dir.getParent, s".compact-${dir.getName}.tmp")
          val trash = new Path(dir.getParent, trashNameOf(dir.getName))
          fs.delete(tmp, true); fs.delete(trash, true)
          // rewrite exactly the SNAPSHOT files (not a re-listed dir):
          // the late-file sweep below relies on "rewritten ≡ snapshot"
          // to know which trash files were concurrent appends
          rewrite(spark.read.parquet(files.map(_.getPath.toString): _*)
            .coalesce(want.toInt))
            .write.mode("overwrite").parquet(tmp.toString)
          // snapshot manifest rides INTO the trash with the rename: if a
          // crash lands after the swap-in but before the late sweep, the
          // next run's recovery can still tell snapshot files (rewritten,
          // safe to drop) from late appends (must be preserved). v2 also
          // records the REWRITTEN file names so recovery can verify a
          // present leaf is really the rewrite (see readManifest).
          val rewrittenNames = dataNames(tmp)
          val mf = fs.create(new Path(dir, SnapshotManifest), true)
          try mf.write(("v2" +:
            (files.map(f => s"S ${f.getPath.getName}") ++
              rewrittenNames.toSeq.sorted.map(n => s"R $n"))).mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally mf.close()
          onBeforeSwap(dir) // test seam: the listing→swap race window
          if (!fs.rename(dir, trash))
            throw new java.io.IOException(s"compact: cannot swap out $dir")
          onAfterSwapOut(dir) // test seam: the swap-out→swap-in race window
          // Swap-in, tolerating an appender that recreates the leaf
          // between the two renames (its commit lands in a fresh dir):
          // fold the appender's committed files into the trash — they are
          // not in the snapshot, so the late-append sweep below carries
          // them into the rewritten leaf — clear the husk, and retry.
          // Never rename onto an existing dir: local-FS Hadoop rename
          // nests src INTO an existing dst instead of failing.
          var attempts = 0
          var swapped = false
          while (!swapped && attempts < 5) {
            if (fs.exists(dir)) {
              fs.listStatus(dir)
                .filter(s => s.isFile && isData(s.getPath))
                .foreach { f =>
                  val to = new Path(trash, f.getPath.getName)
                  if (!fs.exists(to) && !fs.rename(f.getPath, to))
                    throw new java.io.IOException(
                      s"compact: cannot preserve concurrent append ${f.getPath}")
                }
              fs.delete(dir, false) // husk only: fails if refilled, then retry
            }
            swapped = !fs.exists(dir) && fs.rename(tmp, dir)
            attempts += 1
          }
          if (!swapped) { // restore on failure — never lose data
            if (!fs.exists(dir) && !fs.rename(trash, dir))
              throw new java.io.IOException(
                s"compact: swap-in and restore both failed for $dir; " +
                  s"originals are intact in $trash (next compact() recovers)")
            throw new java.io.IOException(
              s"compact: cannot swap in $dir (originals restored or " +
                "recoverable from trash)")
          }
          // LATE-APPEND SWEEP: an appender that commits into this leaf
          // between the snapshot listing and the swap-out rename (late
          // event-time rows landing in a closed dt partition) has its
          // file sitting in the trash but not in the snapshot — move it
          // into the rewritten leaf (file commits are rename-atomic, and
          // part-file names are job-unique, so no collision) instead of
          // deleting committed data with the trash.
          val snapshot = files.map(_.getPath.getName).toSet
          fs.listStatus(trash)
            .filter(s => s.isFile && isData(s.getPath)
              && !snapshot.contains(s.getPath.getName))
            .foreach { late =>
              if (!fs.rename(late.getPath, new Path(dir, late.getPath.getName)))
                throw new java.io.IOException(
                  s"compact: cannot preserve late append ${late.getPath}")
            }
          fs.delete(trash, true)
          compacted += 1
          after += dataFiles().length
        } else after += files.length
      }
    }
    CompactionStats(compacted, before, after, skipped, recovered)
  }

  /** The data files [[compact]] would consider under `path` with the same
    * `skipLeaf`/`skipFile` rules — its `filesBefore`. A caller deciding
    * WHETHER to compact counts with this, so the count and the action
    * cannot disagree about files compaction never touches. */
  def compactableFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      skipLeaf: Path => Boolean = _ => false,
      skipFile: Path => Boolean = _ => false): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0L
    else leaves(fs, root).filterNot(skipLeaf)
      .map(leafFiles(fs, _, skipFile).length.toLong).sum
  }

  private def isData(p: Path): Boolean =
    !p.getName.startsWith(".") && !p.getName.startsWith("_")

  /** Leaf directories holding data files (files beside subdirectories
    * are not a leaf's and are never compacted). */
  private def leaves(fs: FileSystem, dir: Path): Seq[Path] = {
    val entries = fs.listStatus(dir).filter(s => isData(s.getPath))
    val subdirs = entries.filter(_.isDirectory)
    if (subdirs.isEmpty) {
      if (entries.exists(_.isFile)) Seq(dir) else Seq.empty
    } else subdirs.flatMap(s => leaves(fs, s.getPath)).toSeq
  }

  private def leafFiles(fs: FileSystem, dir: Path,
      skipFile: Path => Boolean): Array[FileStatus] =
    fs.listStatus(dir)
      .filter(s => s.isFile && isData(s.getPath) && !skipFile(s.getPath))
}
