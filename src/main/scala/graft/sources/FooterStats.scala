package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Driver-side parquet footer statistics — the zone-map read path.
  *
  * A verb that only needs an AGGREGATE BOUND of one column (e.g. `tail`
  * needs max(ts_sec) of the newest partition to anchor its probe window;
  * the analysis trigger needs per-file ts ranges to prune a compacted
  * day) can answer it from row-group metadata without launching a Spark
  * job: footers are a few KB per file, and a day partition under the
  * engine's compaction policy is single-digit files. This is exactly the
  * metadata parquet keeps for row-group skipping, read one level earlier.
  * On an object store each footer read is one ranged GET; callers should
  * restrict `dir` to a pruned partition, never a table root.
  *
  * Footer reads are MEMOIZED per (path, length, mtime, column): parquet
  * files are immutable once committed (appends create new files;
  * compaction swaps in new names), so a 60 s trigger or a serving probe
  * that revisits the same partition pays the IO once, not per call.
  */
object FooterStats {

  /** Exact per-file bounds of an INT64 column: `[min, max]` over the
    * column's non-null values and the count of non-null rows. A file
    * with no contributing row groups (zero groups, or all groups
    * provably all-null) reports `(Long.MaxValue, Long.MinValue, 0)` —
    * it bounds nothing and contributes no rows, which every consumer
    * treats like an empty file rather than like missing stats. */
  final case class FileStat(min: Long, max: Long, nonNullRows: Long)

  /** Files per directory beyond which the stats path declines (None →
    * caller's distributed fallback): footer reads are driver-side IO,
    * and a badly fragmented live partition (hundreds of micro-batch
    * files awaiting compaction) should spend cluster parallelism, not
    * driver threads. Compacted stores sit far below this. */
  val MaxFiles = 256

  /** Shared bounded pool for footer IO. Per-call pool creation/teardown
    * sat on the hot serving path (every `Via.tail` probe — ADVICE r12),
    * and default non-daemon threads could pin JVM shutdown; 16 lazy
    * daemon threads are reused across calls instead. Bounded pool, not
    * the global EC: this is blocking metadata IO on the driver. */
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-footer-io-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    })

  // (path, length, modTime, column) → stats. Keys include length+mtime
  // so a swapped-in file that reuses a name can never serve stale stats.
  // Access-ordered LRU (VERDICT r13 item 4): past the cap the least-
  // recently-probed entry is released instead of clearing the whole map —
  // a session whose hot analysis window cycles more files than the cap
  // keeps its hot footers memoized and only the cold tail re-reads.
  // Entries are ~100 B, so the cap bounds the map at ~10 MB of driver
  // heap. The tiny synchronized block is noise next to a footer read.
  private val MemoMaxEntries = 100000
  // test seam: the eviction spec shrinks the cap to an observable size
  @volatile private[sources] var memoCap: Int = MemoMaxEntries
  private val memo = new java.util.LinkedHashMap[
      (String, Long, Long, String), Option[FileStat]](1024, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, Long, Long, String), Option[FileStat]]): Boolean =
      size() > memoCap
  }

  /** Test seam: memoized file NAMES, least-recently-probed first. */
  private[sources] def memoFileNames: Seq[String] = memo.synchronized {
    import scala.jdk.CollectionConverters._
    memo.keySet().asScala.toSeq.map(k => new Path(k._1).getName)
  }

  private[sources] def memoReset(): Unit = memo.synchronized(memo.clear())

  private def statsFor(s: FileStatus,
      conf: org.apache.hadoop.conf.Configuration,
      column: String): Option[FileStat] = {
    val key = (s.getPath.toString, s.getLen, s.getModificationTime, column)
    val cached = memo.synchronized(memo.get(key))
    if (cached != null) cached
    else
      try {
        // only results derived from an actually-read footer are
        // memoized (including a legitimate "stats can't prove" None);
        // a THROWN read (file yanked mid-compaction, transient IO) must
        // not poison the key — trash recovery restores the identical
        // (path, len, mtime), and a cached failure would decline the
        // stats path forever
        val v = readFileStats(s.getPath, conf, column)
        memo.synchronized(memo.put(key, v))
        v
      } catch { case _: Exception => None }
  }

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[FileStatus] =
    fs.listStatus(root)
      .filter(s => s.isFile && s.getLen > 0 && {
        val n = s.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      }).toSeq

  /** Exact max of INT64 column `column` across the data files directly
    * under `dir`, from footer statistics alone. None when the directory
    * has no data files, any file lacks stats for the column (dropped
    * stats, column missing, non-INT64 physical type), or a footer is
    * unreadable mid-rewrite (a compaction swap) — callers fall back to
    * the equivalent Spark aggregate, so stats here are an accelerator,
    * never a correctness dependency. */
  def maxLong(spark: SparkSession, dir: String, column: String): Option[Long] = {
    val root = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val files = dataFiles(fs, root)
    if (files.isEmpty || files.length > MaxFiles) return None
    val perFile = readConcurrently(files, conf, column).map(_._2)
    if (perFile.exists(_.isEmpty)) None // one statless file poisons it
    else perFile.flatten.map(_.max).filter(_ != Long.MinValue) match {
      case s if s.isEmpty => None // all files empty of row groups
      case s => Some(s.max)
    }
  }

  /** Per-file [[FileStat]]s for every data file directly under `dir`
    * (empty when the dir is missing). Unlike [[maxLong]] a stat-less
    * file poisons NOTHING here: its entry is simply None, and callers
    * that use the bounds to EXCLUDE files must keep such files —
    * exclusion by proof, inclusion by default. Callers bound total file
    * count themselves ([[MaxFiles]]). */
  def perFileStats(spark: SparkSession, dir: String,
      column: String): Seq[(Path, Option[FileStat])] = {
    val root = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Seq.empty
    readConcurrently(dataFiles(fs, root), conf, column)
  }

  /** [[perFileStats]] over an ALREADY-LISTED file set — callers that
    * needed the listing anyway (a file-count cap check) must not pay a
    * second LIST call per directory on an object store. */
  def perFileStats(spark: SparkSession, files: Seq[FileStatus],
      column: String): Seq[(Path, Option[FileStat])] =
    readConcurrently(files, spark.sessionState.newHadoopConf(), column)

  /** The data files directly under `dir` (the shared hidden-file
    * filter), for callers that list once and reuse the statuses. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty else dataFiles(fs, root)
  }

  // footers are read CONCURRENTLY: each open is ~5-10 ms of blocking
  // metadata IO, and an un-compacted live partition holds one file per
  // writer task per batch — sequential reads were the whole cost of
  // the stats path at 32 files (TailBench). Memo hits skip the pool.
  private def readConcurrently(files: Seq[FileStatus],
      conf: org.apache.hadoop.conf.Configuration,
      column: String): Seq[(Path, Option[FileStat])] = {
    val futures = files.map { f =>
      pool.submit(new java.util.concurrent.Callable[Option[FileStat]] {
        def call(): Option[FileStat] = statsFor(f, conf, column)
      })
    }
    files.map(_.getPath).zip(futures.map(_.get()))
  }

  // (path, length, modTime) → Spark schema, for [[fileSchema]]
  // same LRU discipline as the stats memo above (VERDICT r13 item 4)
  private val schemaMemo = new java.util.LinkedHashMap[
      (String, Long, Long), Option[org.apache.spark.sql.types.StructType]](
      1024, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, Long, Long),
        Option[org.apache.spark.sql.types.StructType]]): Boolean =
      size() > memoCap
  }

  /** Spark schema of one parquet file, read DRIVER-SIDE from its footer
    * — `spark.read.parquet(files)` launches a Spark job just to infer
    * the schema, and that job's scheduling floor (~65 ms measured,
    * AnchorBench) dominated the cost of building a pruned-file-list
    * relation. Prefers the exact Spark schema the writer embedded in the
    * footer metadata (`org.apache.spark.sql.parquet.row.metadata` — what
    * Spark's own inference reads first) and falls back to converting the
    * parquet message type; None on unreadable footers (callers fall back
    * to plain inference). Memoized like the column stats. */
  def fileSchema(spark: SparkSession,
      file: Path): Option[org.apache.spark.sql.types.StructType] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val st = file.getFileSystem(conf).getFileStatus(file)
      val key = (file.toString, st.getLen, st.getModificationTime)
      val cached = schemaMemo.synchronized(schemaMemo.get(key))
      if (cached != null) cached
      else {
        // like [[statsFor]]: only a successfully-read footer is
        // memoized; a thrown read is transient and must not poison the
        // (path, len, mtime) key
        val reader =
          ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        val v =
          try {
            val md = reader.getFooter.getFileMetaData
            val sparkJson =
              md.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
            if (sparkJson != null)
              Some(org.apache.spark.sql.types.DataType.fromJson(sparkJson)
                .asInstanceOf[org.apache.spark.sql.types.StructType])
            else
              Some(new org.apache.spark.sql.execution.datasources.parquet
                .ParquetToSparkSchemaConverter(spark.sessionState.conf)
                .convert(md.getSchema))
          } finally reader.close()
        schemaMemo.synchronized(schemaMemo.put(key, v))
        v
      }
    } catch { case _: Exception => None }

  /** `files` of a `dt`-partitioned store under `basePath`, read with the
    * schema of `schemaFile`'s footer plus the `dt` partition column —
    * where `spark.read.parquet(files)` would launch a schema-inference
    * job first. `schemaFile` should be the newest file: it carries the
    * latest engine schema, at least as current as stock inference's
    * pick-any-file. Unreadable footer → plain inference. */
  def readDayPartitioned(spark: SparkSession, basePath: String,
      files: Seq[Path], schemaFile: Path): org.apache.spark.sql.DataFrame =
    fileSchema(spark, schemaFile)
      .map(s => spark.read.schema(
        s.add(org.apache.spark.sql.types.StructField("dt",
          org.apache.spark.sql.types.DateType, nullable = true))))
      .getOrElse(spark.read)
      .option("basePath", basePath)
      .parquet(files.map(_.toString): _*)

  /** One file's footer stats; None when the footer was READ but its
    * stats can't prove bounds (absent/dropped stats, non-INT64 values).
    * THROWS on IO failure — the caller decides whether a failure is
    * cacheable (it is not). A PROVABLY all-null row group contributes
    * no rows and no bounds — like an empty file, not like missing
    * stats (FooterStatsSpec). */
  private def readFileStats(f: Path,
      conf: org.apache.hadoop.conf.Configuration,
      column: String): Option[FileStat] = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala
        var mn = Long.MaxValue; var mx = Long.MinValue; var rows = 0L
        var ok = true
        blocks.foreach { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .map(_.getStatistics) match {
            case Some(s) if s != null && !s.isEmpty && s.hasNonNullValue =>
              (s.genericGetMin, s.genericGetMax) match {
                case (gmn: java.lang.Long, gmx: java.lang.Long) =>
                  if (gmn.longValue() < mn) mn = gmn.longValue()
                  if (gmx.longValue() > mx) mx = gmx.longValue()
                  // the non-null count backs coverage proofs (how many
                  // in-range rows a kept file holds); unset null counts
                  // degrade the proof, never the bounds
                  rows += (if (s.isNumNullsSet) b.getRowCount - s.getNumNulls
                           else 0L)
                case _ => ok = false // stats exist but aren't INT64
              }
            case Some(s) if s != null && !s.isEmpty &&
                s.isNumNullsSet && s.getNumNulls == b.getRowCount =>
              () // provably all-null block: no rows, no bounds
            case _ => ok = false // stats absent/dropped: can't prove
          }
        }
        if (!ok) None else Some(FileStat(mn, mx, rows))
      } finally reader.close()
  }
}
