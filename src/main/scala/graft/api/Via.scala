package graft.api

import graft.control.{Evals, Rules, SchemaEngine, SchemaRegistry}
import graft.search.ClusterSearch
import graft.streaming.{AnalysisJob, IngestPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The engine's user-facing surface: one Scala method per REST verb of the
  * reference (`/root/reference/app/api/v1/router.py:6-10`). A user of the
  * reference can run every query they run today through this object; no
  * HTTP server is required for parity (SURVEY §7.1 `api/`).
  *
  * Construction wires the store paths once; everything else is stateless
  * DataFrame plans over them.
  *
  * @param warehouse root directory: `tier1/`, `tier2/`, `rules`, `schemas`,
  *                  `evals/`, `checkpoints/`, `graphidx/` live under it
  * @param clustersServeThreshold Tier-2 corpus size (graph-index node
  *                  count) at/above which text-filtered `clusters` serves
  *                  through the graph ANN leg instead of the exact rank —
  *                  mirroring the reference's always-HNSW Tier-2 while
  *                  keeping the exact path where scanning is cheaper than
  *                  probing. Defaults to the verb's measured crossover.
  *                  It gates routing only: a pin is a driver snapshot at
  *                  every store size ([[pinServing]]).
  * @param triageServeThreshold the same gate for `triage`; its exact scan
  *                  stays competitive far longer because its query vector
  *                  is one cheap filtered average while clusters pays a
  *                  full-text match per row (SCALE.md crossover table).
  */
final class Via(spark: SparkSession, warehouse: String,
    private[graft] val clustersServeThreshold: Long = Via.ClustersServeThreshold,
    private[graft] val triageServeThreshold: Long = Via.TriageServeThreshold) {

  val tier1Path = s"$warehouse/tier1"
  val tier2Path = s"$warehouse/tier2"
  val graphIndexPath = s"$warehouse/graphidx"
  val rules = new Rules(spark, s"$warehouse/rules")
  val schemas = new SchemaRegistry(spark, s"$warehouse/schemas")
  val evals = new Evals(s"$warehouse/evals")

  private def tier1: DataFrame = spark.read.parquet(tier1Path)
  /** Tier-2 for Spark-side readers: the pin's frozen file list while a
    * pin is held, the live store otherwise. */
  private def tier2Of(p: Option[Via.Pin]): DataFrame =
    p.fold(spark.read.parquet(tier2Path))(_.read)

  // --- serving snapshot (VERDICT r10 #4) -------------------------------
  // The searcher/commit-point model: a serving deployment pins a Tier-2
  // snapshot so every clusters/triage call reads memory instead of
  // re-listing and re-scanning parquet, and refreshes the pin when the
  // store advances (after promotion batches / maintenance). Unpinned
  // behavior is unchanged: each call reads the store fresh.
  @volatile private var pin: Option[Via.Pin] = None

  /** Pin the current Tier-2 store as the serving snapshot.
    *
    * Every pin freezes the store's CURRENT FILE LIST and holds it ON THE
    * DRIVER: one projected collect ([[graft.search.ServingSnapshot]],
    * ~21 MB at 10k rows of 384-d vectors; SCALE.md's driver-memory
    * table) from which `clusters` (with and without a text
    * filter) and `triage` rank in-JVM with the exact verbs' kernels — a
    * call launches no Spark job, and nothing is cached on the executors.
    * A refresh collects only the files the previous snapshot did not
    * hold.
    *
    * The pin's Spark-side relation reads exactly the frozen files, so
    * every Spark-side reader of a pin — the degenerate-triage edge, the
    * graph route and its exact fallback, `buildGraphIndex` — sees the
    * rows the snapshot holds. That is also why a Tier-2 rewrite
    * (compaction deletes the listed files) still repins
    * ([[maintainIndexes]]).
    *
    * The pin is one immutable value in a volatile field, and a serving
    * call reads it once, so a call never mixes two snapshots. Nothing is
    * released when a pin is displaced: the old snapshot is garbage once
    * its last in-flight call returns. */
  def pinServing(): Unit = {
    val files = liveTier2Files()
    pin = Some(Via.Pin(files.map(_.getPath.toString), readTier2(files),
      graft.search.ServingSnapshot.collect(files, readTier2,
        previous = pin.map(_.snapshot))))
  }

  /** Re-pin the snapshot over the store's current content. */
  def refreshServing(): Unit = pinServing()

  /** Drop the pin: serving calls read the store per call again. */
  def unpinServing(): Unit = pin = None

  /** Tier-2 read GUARANTEED to see the live store regardless of what
    * the session has cached. Spark's CacheManager substitutes a cached
    * plan into ANY later query containing an equal fragment, and the
    * ledgered streaming appends / compaction renames never invalidate
    * such an entry (only Spark's own writers do) — measured r13: a root
    * read under a root-read cache returned pre-append rows until
    * unpersist (found by FreshBench racing promotion against a pinned
    * server). The pin itself caches nothing, but a session USER can
    * still hold a root-read cache, so live-critical reads
    * (drift detection, re-sync sources, the pin's own snapshot) always
    * read the explicit CURRENT file list — a plan no root-read cache
    * entry matches. Listing is maintenance-cadence cost. */
  private def liveTier2Read(): DataFrame = readTier2(liveTier2Files())

  /** Tier-2's current data files (recursive listing, hidden files
    * skipped); empty when the store does not exist. */
  private def liveTier2Files(): Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(tier2Path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isDirectory) files(s.getPath)
        else Seq(s)
      }
    if (fs.exists(root)) files(root) else Seq.empty
  }

  /** The explicit file-list read of `files` (a root read when empty),
    * its schema from the newest file's footer (no inference job). */
  private def readTier2(files: Seq[org.apache.hadoop.fs.FileStatus]): DataFrame =
    if (files.isEmpty) spark.read.parquet(tier2Path)
    else graft.sources.FooterStats.readDayPartitioned(spark, tier2Path,
      files.map(_.getPath), files.maxBy(_.getModificationTime).getPath)

  // --- POST /ingest/stream (S1) ---------------------------------------
  /** Start streaming ingest from a JSONL drop directory. */
  def startIngest(inputDir: String): StreamingQuery =
    IngestPipeline.start(spark, inputDir, tier1Path,
      s"$warehouse/checkpoints/ingest")

  /** Batch form: ingest a DataFrame of raw OTel JSON strings now. */
  def ingestBatch(rawJsonLines: DataFrame): Unit =
    IngestPipeline.ingestBatch(rawJsonLines)
      .write.mode("append").partitionBy("dt").parquet(tier1Path)

  // --- GET /stream/tail (S3) ------------------------------------------
  /** Last-n live rows via TIME-WINDOW probing: if ≥ n matching rows have
    * `ts_sec ≥ maxTs − w`, the global top-n by ts all lie inside that
    * window (every excluded row is older than every included one), so
    * the probe result IS the exact tail. Each probe carries BOTH bounds:
    * the `dt` predicate prunes partitions (`dt` derives from `ts_sec`,
    * so a year-long store lists 1-2 day directories, the r11 form) and
    * the `ts_sec` bound additionally skips parquet ROW GROUPS via
    * min/max stats inside the surviving files — a compacted single-file
    * day no longer decodes its whole row set to answer "newest 100"
    * (the r11 ServeBench finding: tail was the slowest verb because it
    * paid a full newest-partition decode per call). The window starts at
    * [[Via.TailProbeWindowSec]] and widens ×8 on shortfall (selective
    * filters / sparse stores), becoming the plain full scan once it
    * covers the oldest partition's day-start — at which point the ts
    * bound excludes nothing and the result is exact by construction.
    * Row-identical to the full-scan form (ViaSpec), in ANY session
    * timezone: the day-start arithmetic runs in the session zone (dt
    * derives from ts_sec in that zone — ADVICE r12), the probe's dt
    * bounds carry ±2 days of cross-timezone slack, and the terminal
    * iteration IS the plain full scan. */
  def tail(n: Int = 100, filter: Option[String] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, max}
    val root = new Path(tier1Path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only date-parseable leaves anchor the probe: a null-ts partition
    // (__HIVE_DEFAULT_PARTITION__) sorts after every date string and
    // would otherwise be taken as "newest". Its rows sort behind every
    // timestamped row (desc = nulls last), so they can only surface when
    // the store holds fewer than n timestamped rows — the terminal
    // full scan below covers exactly that case.
    val dts =
      (if (fs.exists(root))
        fs.listStatus(root).map(_.getPath.getName)
          .filter(_.startsWith("dt=")).map(_.stripPrefix("dt=")).toSeq
      else Seq.empty)
      .filter(d => scala.util.Try(java.time.LocalDate.parse(d)).isSuccess)
      .sorted.reverse
    val t1 = tier1
    if (dts.isEmpty || !t1.columns.contains("dt") ||
        !t1.columns.contains("ts_sec"))
      return IngestPipeline.tail(t1, n, filter)
    // global max ts lives in the newest partition (dt is monotone in
    // ts). Footer statistics answer it driver-side with zero Spark jobs
    // (TailBench: the agg job alone was ~127 ms of a ~270 ms call);
    // a statless/empty/mid-rewrite footer falls back to the one-column
    // agg over that partition, and an empty partition to the full scan.
    val maxTs: Long = graft.sources.FooterStats.maxLong(spark,
        s"$tier1Path/dt=${dts.head}", "ts_sec").getOrElse {
      val row = t1.filter(col("dt") === dts.head)
        .agg(max(col("ts_sec"))).head()
      if (row.isNullAt(0)) return IngestPipeline.tail(t1, n, filter)
      row.getAs[Number](0).longValue()
    }
    // Day-start of the OLDEST partition in the SESSION timezone: dt =
    // to_date(timestamp_seconds(ts_sec)) evaluates in the session tz
    // (IngestPipeline does not pin UTC), so partition dt=D spans
    // [D 00:00, D+1 00:00) IN THAT ZONE. The previous UTC form declared
    // a short result final in zones east of UTC while `ts_sec >= from`
    // still excluded the oldest partition's pre-UTC-midnight rows
    // (ADVICE r12 medium).
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val oldestStart =
      java.time.LocalDate.parse(dts.last).atStartOfDay(zone).toEpochSecond
    var w = Via.TailProbeWindowSec
    while (true) {
      val from = maxTs - w
      if (from <= oldestStart)
        // the window covers every dated partition, so probing can no
        // longer narrow the scan: run the plain full scan. This is also
        // the exactness backstop for what partition-name arithmetic
        // cannot see — a store WRITTEN under a different session
        // timezone than the reader's, and undated (null-ts) partitions.
        return IngestPipeline.tail(t1, n, filter)
      // dt bounds carry ±2 days of slack: partition names were derived
      // in the WRITER's session tz, and the widest legal tz divergence
      // (UTC-12 vs UTC+14 = 26 h) shifts a row's date by at most 2 days
      // vs the reader's zone. Constant extra listing, never wrong rows —
      // the `ts_sec` row filter below is the correctness bound.
      val probe = graft.analysis.DtPrune(t1, from, maxTs, slackDays = 2)
        .filter(col("ts_sec") >= from)
      val res = IngestPipeline.tail(probe, n, filter)
      val rows = res.collect()
      if (rows.length >= n)
        return spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), res.schema)
      w *= 8
    }
    sys.error("unreachable")
  }

  // --- store maintenance (no reference verb — the operational task its
  // daily-collection rollover performs implicitly) -----------------------
  /** Compact Tier-1's small appended files (`sources/Layout.compact`) —
    * works on BOTH ingest paths, including under live streaming ingest.
    *
    * [[ingestBatch]] and [[startIngest]]'s `foreachBatch` sink both
    * append plain files INTO existing `dt=` leaves — including CLOSED
    * days, via late event-time rows — which `Layout.compact`'s
    * late-append sweep preserves (a file committed between the listing
    * and the swap is moved into the rewritten leaf, crash-covered by the
    * trash manifest; CompactionSpec's race tests). The open (lexically
    * max) dt partition is still skipped: it is the hot leaf, and
    * compacting a partition mid-churn is wasted rewrite work, not a
    * correctness need.
    *
    * Streaming-ingest interplay: a `b<id>-` file with `id` ABOVE the
    * commit ledger's high-water mark belongs to an in-flight or
    * crashed-attempt micro-batch — the replay protocol deletes such
    * files BY NAME before re-landing them
    * ([[graft.streaming.IngestPipeline.appendBatchIdempotent]]), so
    * compaction must not fold them into a rewrite (the replay would miss
    * them and duplicate rows). They are excluded via `skipFile` and pass
    * through the swap untouched; committed files compact freely because
    * a committed batch is never replayed. */
  def compactTier1(targetBytes: Long = 128L * 1024 * 1024): graft.sources.Layout.CompactionStats =
    compactLedgeredStore(tier1Path, targetBytes, skipOpenLeaf = true)

  /** Compact Tier-2. Safe under the live [[PromotionStream]] appender,
    * which (r13) lands batches through the SAME idempotent
    * `b<batchId>-`-file protocol as Tier-1 ingest — so uncommitted
    * in-flight batch files pass through the swap untouched and mid-swap
    * commits survive via the late-append sweep (CompactionSpec race
    * tests). Unlike tier1 the OPEN day leaf is compacted too: Tier-2 is
    * control-plane volume (a handful of promoted clusters per window),
    * so the hot-leaf rewrite-waste argument doesn't apply and skipping
    * it would leave the maintenance sweep permanently non-quiescent. */
  def compactTier2(targetBytes: Long = 128L * 1024 * 1024): graft.sources.Layout.CompactionStats =
    compactLedgeredStore(tier2Path, targetBytes, skipOpenLeaf = false)

  private def compactLedgeredStore(storePath: String, targetBytes: Long,
      skipOpenLeaf: Boolean): graft.sources.Layout.CompactionStats = {
    val skips = ledgeredSkips(storePath, skipOpenLeaf)
    graft.sources.Layout.compact(spark, storePath, targetBytes,
      skipLeaf = skips.leaf, skipFile = skips.file)
  }

  /** Data files a ledgered-store compaction would rewrite — the count
    * [[maintainIndexes]] weighs against its threshold. Same skip rules
    * as the compaction itself, so files sitting only in Tier-1's open
    * leaf never trigger a compaction that cannot touch them. */
  private def ledgeredFiles(storePath: String, skipOpenLeaf: Boolean): Long = {
    val skips = ledgeredSkips(storePath, skipOpenLeaf)
    graft.sources.Layout.compactableFiles(spark, storePath,
      skipLeaf = skips.leaf, skipFile = skips.file)
  }

  /** The open (lexically max) `dt` leaf when `skipOpenLeaf`, and `b<id>-`
    * files above the commit ledger's high-water mark (see
    * [[compactTier1]]). */
  private def ledgeredSkips(storePath: String,
      skipOpenLeaf: Boolean): Via.LedgeredSkips = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val openDt =
      if (skipOpenLeaf)
        fs.listStatus(root).map(_.getPath.getName)
          .filter(_.startsWith("dt=")).sorted.lastOption
      else None
    val committedMax = IngestPipeline.committedMax(fs, root)
    val UncommittedBatchFile = "b(\\d+)-.*".r
    Via.LedgeredSkips(
      leaf = dir => openDt.contains(dir.getName),
      file = f => f.getName match {
        case UncommittedBatchFile(id) => id.toLong > committedMax
        case _ => false
      })
  }

  // --- POST /analysis/tier1/rhythm_anomalies (T2/T3/A1-A3/J1-J3/T5) ---
  /** Batch-promoted clusters follow into an EXISTING graph index (the
    * same freshness contract the streaming path keeps per micro-batch —
    * ADVICE r11); a Via that never built one is untouched. */
  def analyzeOnce(nowSec: Long, windowSec: Long = 60): DataFrame =
    AnalysisJob.runOnce(spark, tier1Path, tier2Path, rules, nowSec, windowSec,
      graphIndexPath = Some(graphIndexPath))

  /** Background 60 s loop (the reference's worker). */
  def startAnalysis(intervalSec: Long = 60, windowSec: Long = 60): StreamingQuery =
    AnalysisJob.start(spark, tier1Path, tier2Path, rules, intervalSec,
      windowSec, graphIndexPath = Some(graphIndexPath))

  /** Fully streaming detection: Tier-1 is itself a streaming source
    * (parquet file stream over the partitioned store), windows close via
    * watermark, and anomalies append to `anomalies/` continuously — no
    * polling loop at all. This is the keyed-state scale path
    * ([[graft.streaming.StatefulDetector]]); the reference can only poll. */
  def startStatefulDetection(
      windowSec: Long = 60,
      watermarkDelay: String = "2 minutes",
      thresholds: graft.streaming.StatefulDetector.Thresholds =
        graft.streaming.StatefulDetector.Thresholds(),
      triggerMs: Long = 10000,
      stateTtlMs: Option[Long] =
        Some(graft.streaming.StatefulDetector.DefaultStateTtlMs)): StreamingQuery = {
    graft.streaming.StatefulDetector.ensureStateVersion(spark,
      s"$warehouse/checkpoints/stateful")
    val schema = spark.read.parquet(tier1Path).schema
    val logs = spark.readStream.schema(schema).parquet(tier1Path)
      .select("rhythm_hash", "ts_sec")
    graft.streaming.StatefulDetector
      .detect(logs, windowSec, watermarkDelay, thresholds, stateTtlMs)
      .writeStream
      .format("parquet")
      .option("path", s"$warehouse/anomalies")
      .option("checkpointLocation", s"$warehouse/checkpoints/stateful")
      .outputMode("append")
      // a real trigger interval: the state TTL's processing-time timeouts
      // request a batch per trigger — with the default 0 ms trigger that
      // degenerates into a busy loop of empty batches
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .start()
  }

  /** Anomalies emitted by [[startStatefulDetection]]. */
  def anomalies(): DataFrame = spark.read.parquet(s"$warehouse/anomalies")

  /** Fully streaming detection AND promotion: watermarked keyed-state
    * anomalies are promoted to Tier-2 per closed window via the exact
    * batch `Promoter` semantics (T5 scale path — batch parity proven by
    * PromotionStreamSpec; rules enforcement included). */
  def startStreamingPromotion(
      windowSec: Long = 60,
      watermarkDelay: String = "2 minutes",
      thresholds: graft.streaming.StatefulDetector.Thresholds =
        graft.streaming.StatefulDetector.Thresholds(),
      annIndexPath: Option[String] = None,
      graphIndex: Boolean = false): StreamingQuery =
    graft.streaming.PromotionStream.start(spark, tier1Path, tier2Path,
      s"$warehouse/checkpoints/promotion", Some(rules), windowSec,
      watermarkDelay, thresholds, annIndexPath = annIndexPath,
      graphIndexPath = if (graphIndex) Some(graphIndexPath) else None)

  /** Fold a streaming-maintained ANN index's per-batch levels into its
    * bulk level ([[graft.search.AnnIndex.fold]]) — the periodic
    * counterweight for the one-leaf-per-micro-batch appends
    * [[startStreamingPromotion]] produces when `annIndexPath` is wired.
    * Fold only past the stream's committed checkpoint (the fold doc's
    * replay caveat); on the promotion stream that is every batch but the
    * in-flight one. */
  def foldAnnIndex(path: String): graft.search.AnnIndex.FoldStats =
    graft.search.AnnIndex.fold(spark, path)

  // --- maintenance policy (VERDICT r10 #6) -----------------------------
  /** One operational verb over every persisted store: inspect each
    * store's fragmentation signal against its threshold and run the
    * right counterweight — `Layout.compact` for the appended stores
    * (tier1/tier2 and the file-sharded indexes), `AnnIndex.fold` for the
    * batch-leveled sign-bucket index, `GraphIndex.rebuild` for the
    * buffered graph (also the bootstrap build when a stream has buffered
    * into an index that was never built). Probes are unchanged by every
    * counterweight (each index's own maintenance spec proves it); this
    * verb only decides WHEN. Returns what it did and why, one row per
    * store inspected.
    *
    * Caveats carried from the verbs themselves: do not fold/rebuild
    * while a crashed stream may still replay a snapshotted batch (run
    * after the stream's checkpoint passes them — true for any batch but
    * the in-flight one), and compaction skips uncommitted streaming
    * files by design (see [[compactTier1]]). */
  def maintainIndexes(
      annIndexPath: Option[String] = None,
      dedupIndexPath: Option[String] = None,
      textIndexPath: Option[String] = None,
      ivfIndexPath: Option[String] = None,
      smallFileThreshold: Long = Via.MaintainSmallFiles,
      annBatchLevels: Int = Via.MaintainBatchLevels,
      graphBufferRatio: Double = Via.MaintainBufferRatio,
      maxSegments: Int = Via.MaintainMaxSegments,
      targetBytes: Long = 128L * 1024 * 1024): Seq[Via.Maintenance] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: Path): Long =
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).map { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) 0L
        else if (s.isDirectory) dataFiles(s.getPath) else 1L
      }.sum
    // test seam (MaintainCrashSpec): `maintainCrashAfter = Some(target)`
    // kills the sweep right after that store's action completes —
    // simulating a driver death mid-sweep with store A maintained and
    // stores B.. untouched (VERDICT r13 item 6)
    val acts = new scala.collection.mutable.ArrayBuffer[Via.Maintenance] {
      override def addOne(m: Via.Maintenance): this.type = {
        super.addOne(m)
        if (maintainCrashAfter.contains(m.target) && m.action != "none")
          throw new IllegalStateException(
            s"simulated crash after ${m.target}:${m.action}")
        this
      }
    }
    def compactIfFragmented(target: String, n: Long,
        run: () => graft.sources.Layout.CompactionStats): Unit = {
      if (n > smallFileThreshold) {
        val s = run()
        acts += Via.Maintenance(target, "compact",
          s"$n files > $smallFileThreshold: ${s.filesBefore} -> ${s.filesAfter}")
      } else acts += Via.Maintenance(target, "none", s"$n files")
    }
    if (fs.exists(new Path(tier1Path)))
      compactIfFragmented("tier1", ledgeredFiles(tier1Path, skipOpenLeaf = true),
        () => compactTier1(targetBytes))
    if (fs.exists(new Path(tier2Path)))
      compactIfFragmented("tier2", ledgeredFiles(tier2Path, skipOpenLeaf = false),
        () => compactTier2(targetBytes))
    // graph index: (1) DRIFT — the store carries keys the index has
    // never seen (a batch-promotion path that wrote Tier-2 without the
    // graph append, a crash between the two writes — ADVICE r11 medium):
    // re-sync from the store, the authoritative source. Detected by
    // comparing distinct key counts, which is exact under the engine's
    // append-only writes (keys are content-derived and never rewritten,
    // so `store > index` can only mean missing rows). The index-ahead
    // direction is NOT treated as drift: buffered rows are upstream-
    // written to Tier-2 first, so index ⊆ store holds by construction
    // and a transient surplus only ever means a concurrent append mid-
    // sweep. (2) BUFFER GROWTH — fold when the exact-scored buffer
    // outgrows its share of the graph (or bootstrap a streamed-only
    // store).
    if (fs.exists(new Path(graphIndexPath))) {
      val buf = graft.search.GraphIndex.bufferRows(spark, graphIndexPath)
      // maintenance reads the LIVE store, never the pinned serving
      // snapshot: a stale pin would undercount store keys (missing
      // drift) and, worse, a triggered re-sync would rebuild the index
      // from the snapshot and drop rows appended since the pin. A plain
      // root read is NOT live enough: see [[liveTier2Read]].
      val liveTier2 =
        if (fs.exists(new Path(tier2Path))) Some(liveTier2Read())
        else None
      val storeKeys = liveTier2.fold(0L)(
        _.select(graft.search.TierIndex.rowKey).distinct().count())
      val idxKeys =
        graft.search.GraphIndex.indexedKeyCount(spark, graphIndexPath)
      graft.search.GraphIndex.nodeCount(spark, graphIndexPath) match {
        case _ if storeKeys > idxKeys =>
          graft.search.GraphIndex.rebuildFrom(spark,
            graft.search.TierIndex.nodes(liveTier2.get), graphIndexPath)
          acts += Via.Maintenance("graphidx", "sync",
            s"store has $storeKeys keys vs $idxKeys indexed: " +
              "re-synced from Tier-2")
        case None if buf > 0 =>
          graft.search.GraphIndex.rebuild(spark, graphIndexPath)
          acts += Via.Maintenance("graphidx", "rebuild",
            s"bootstrap from $buf buffered rows")
        case Some(n) if buf > graphBufferRatio * math.max(n, 1L) =>
          // incremental segment fold while the segment count allows it —
          // O(buffer) encode instead of O(graph) (VERDICT r13 item 3);
          // past the cap, pay the full rebuild once to rebalance
          val segs = graft.search.GraphIndex.segmentCount(spark, graphIndexPath)
          if (segs >= maxSegments) {
            graft.search.GraphIndex.rebuild(spark, graphIndexPath)
            acts += Via.Maintenance("graphidx", "rebuild",
              s"$buf buffered vs $n graph nodes; $segs segments >= " +
                s"$maxSegments: full rebalance")
          } else {
            graft.search.GraphIndex.foldIncremental(spark, graphIndexPath)
            acts += Via.Maintenance("graphidx", "fold",
              s"$buf buffered vs $n graph nodes: incremental segment fold")
          }
        case g =>
          acts += Via.Maintenance("graphidx", "none",
            s"$buf buffered vs ${g.getOrElse(0L)} graph nodes")
      }
    }
    annIndexPath.foreach { p =>
      val levels =
        if (!fs.exists(new Path(s"$p/index"))) 0
        else fs.listStatus(new Path(s"$p/index")).count(s =>
          s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      if (levels > annBatchLevels) {
        val s = graft.search.AnnIndex.fold(spark, p)
        acts += Via.Maintenance("annidx", "fold",
          s"$levels batch levels: ${s.filesBefore} -> ${s.filesAfter} files")
      } else acts += Via.Maintenance("annidx", "none", s"$levels batch levels")
    }
    dedupIndexPath.foreach(p => compactIfFragmented("dedupidx",
      dataFiles(new Path(p)),
      () => graft.search.DedupIndex.compact(spark, p, targetBytes)))
    textIndexPath.foreach(p => compactIfFragmented("textidx",
      dataFiles(new Path(p)),
      () => graft.search.TextIndex.compact(spark, p, targetBytes)))
    ivfIndexPath.foreach(p => compactIfFragmented("ivfidx",
      dataFiles(new Path(p)),
      () => graft.search.IvfIndex.compact(spark, p, targetBytes)))
    // a pinned serving snapshot's lineage is the parquet file list frozen
    // at pin time: once a maintenance action REWRITES TIER-2 (the
    // compaction swap deletes the listed files), any Spark-side reader of
    // the pin (the degenerate triage edge, the graph fallback) would read
    // deleted files and fail the serving call.
    // Only a tier2 rewrite creates that hazard — tier1 compaction and
    // index folds/syncs never touch the pinned store's files, so they do
    // not pay a repin (ADVICE r12).
    // ALSO repin when any of the pin's frozen input files no longer
    // exists: a sweep that died between its tier2 rewrite and this repin
    // (VERDICT r13 item 6) reports tier2 "none" on the NEXT sweep — the
    // action-based condition alone would leave the stale-lineage pin in
    // place forever. One fs.exists per pinned file, maintenance-only.
    val held = pin
    def pinLineageBroken(): Boolean =
      held.exists(_.files.exists(f => !fs.exists(new Path(f))))
    if (held.isDefined &&
        (acts.exists(a => a.target == "tier2" && a.action != "none") ||
          pinLineageBroken())) {
      refreshServing()
      acts += Via.Maintenance("serving", "repin",
        "tier2 rewritten under a pinned snapshot: refreshed the pin")
    }
    acts.toSeq
  }

  /** Test seam: simulate a driver crash right after the named store's
    * maintenance action inside [[maintainIndexes]]. */
  private[graft] var maintainCrashAfter: Option[String] = None

  // --- POST /analysis/tier2/clusters (V1/V6/A5/A6/J3/J4) --------------
  /** Text-filtered calls route through the Tier-2 graph ANN index when
    * one exists and covers at least `clustersServeThreshold` nodes (the
    * reference serves these through Qdrant's HNSW; exact ranking below
    * the crossover is OUR improvement on it). The graph route ranks its
    * hits on the driver with the exact verb's kernels (parity-pinned by
    * TierServeSpec); an under-filled indexed result falls back to the
    * exact scan (ClusterSearch Scaladoc). Every other call is exact: it
    * ranks the pinned snapshot in-JVM (no Spark job — see
    * [[pinServing]]), or scans the store when nothing is pinned. */
  def clusters(
      nowSec: Long,
      startTs: Option[Long] = None,
      endTs: Option[Long] = None,
      textFilter: Option[String] = None): DataFrame = {
    val p = pin
    (p, textFilter) match {
      case (_, Some(f)) if graphServes(clustersServeThreshold) =>
        ClusterSearch.clustersIndexed(tier2Of(p), graphIndexPath,
          Some(rules), nowSec, startTs, endTs, textFilter = f)
      case (Some(held), _) =>
        ClusterSearch.clustersSnapshot(spark, held.snapshot, Some(rules),
          nowSec, startTs, endTs, textFilter)
      case (None, _) =>
        ClusterSearch.clusters(tier2Of(p), Some(rules), nowSec, startTs,
          endTs, textFilter)
    }
  }

  // --- POST /analysis/tier2/triage (V3/A7) ----------------------------
  /** Routed like [[clusters]]: the graph at or above
    * `triageServeThreshold` nodes, otherwise the exact verb over the
    * pinned snapshot or the store. A graph-routed call under a pin takes
    * its example vector from the snapshot in-JVM. */
  def triage(positive: Seq[String], negative: Seq[String]): DataFrame = {
    val p = pin
    if (graphServes(triageServeThreshold))
      ClusterSearch.triageIndexedImpl(tier2Of(p), graphIndexPath, positive,
        negative, ClusterSearch.TriageLimit, precomputedQv = p.map(held =>
          ClusterSearch.exampleVectorDriver(held.snapshot, positive,
            negative)))._1
    else p match {
      case Some(held) =>
        ClusterSearch.triageSnapshot(held.snapshot, held.read, positive,
          negative)
      case None => ClusterSearch.triage(tier2Of(p), positive, negative)
    }
  }

  /** The ANN-serving gate: graph index present and at/above the verb's
    * threshold. */
  private def graphServes(threshold: Long): Boolean =
    graft.search.GraphIndex.nodeCount(spark, graphIndexPath)
      .exists(_ >= threshold)
  /** Routing decisions exposed for specs (gate semantics, not parity —
    * parity is TierServeSpec's job). */
  private[graft] def clustersServesViaGraph: Boolean = graphServes(clustersServeThreshold)
  private[graft] def triageServesViaGraph: Boolean = graphServes(triageServeThreshold)

  /** Bulk-(re)build the Tier-2 serving graph index from the current
    * store — the initial build; [[startStreamingPromotion]] keeps it
    * fresh per batch and [[maintainIndexes]] folds its buffer. */
  def buildGraphIndex(numParts: Int = graft.search.GraphIndex.NumParts): Unit =
    graft.search.TierIndex.build(tier2Of(pin), graphIndexPath, numParts)

  // --- POST /control/suppress | /control/patch (C4, T4) ---------------
  def suppress(rhythmHash: String, ttlSec: Long, nowSec: Long): Unit =
    rules.suppress(rhythmHash, ttlSec, nowSec)

  /** Patch = permanent allow-list + auto-generated regression eval case
    * (`control_service.py:66-87` + `:37-58`). */
  def patch(rhythmHash: String, nowSec: Long): Unit = {
    rules.patch(rhythmHash)
    import spark.implicits._
    val ctx = tier1.filter($"rhythm_hash" === rhythmHash)
      .orderBy($"ts_sec".desc).limit(Via.EvalContextLogs)
      .select("body").as[String].collect().toSeq
    evals.write(rhythmHash, ctx)
  }

  // --- GET /control/rules + DELETEs (C5/C7) ---------------------------
  def activeRules(nowSec: Long): DataFrame = rules.active(nowSec)
  def unpatch(rhythmHash: String): Unit = rules.deactivate(rhythmHash, Rules.AllowList)
  def unsuppress(rhythmHash: String): Unit = rules.deactivate(rhythmHash, Rules.Suppression)

  // --- POST /schemas/detect | /schemas (C1-C3) ------------------------
  def detectSchema(samples: Seq[String]): Option[SchemaEngine.LogSchema] =
    SchemaEngine.detect(samples)
  def saveSchema(name: String, schema: SchemaEngine.LogSchema): Unit =
    schemas.save(name, schema)
  def listSchemas(): Seq[String] = schemas.list()
}

object Via {
  /** Context logs captured per eval case (reference keeps the recent
    * occurrences of the patched hash). */
  val EvalContextLogs = 10

  /** Graph-serving corpus-size gate for `clusters`: the text-filtered
    * exact scan pays a full-text match + embed-cosine per row, so the
    * graph wins early (ScaleBench's measured ~100k crossover for
    * flat-vs-indexed probes at serving beam widths; ServeBench r12:
    * graph already 1.9× faster at 600k). */
  val ClustersServeThreshold = 100000L
  /** Graph-serving gate for `triage`: its exact scan is one cheap
    * filtered-average + cosine rank, so the exact pin stays faster
    * longer — measured exact 102 ms vs graph 152 ms at 150k, crossing
    * before 600k (210 vs 277 ms; ServeBench r12, re-measured at 300k in
    * SCALE.md r13). Routing BOTH verbs at 100k made triage pay up to
    * ~1.5× in the 100k-600k band (VERDICT r12 item 2). */
  val TriageServeThreshold = 300000L
  /** Initial `tail` probe window (seconds of event time before the
    * store's newest row). Sized so a reference-rate stream (100 logs/s,
    * BASELINE.md) fills the default n=100 on the first probe with ~64×
    * headroom; widens ×8 per shortfall. */
  val TailProbeWindowSec = 64L
  /** Data-file count above which an appended store gets compacted. */
  val MaintainSmallFiles = 64L
  /** Streaming batch levels tolerated on the sign-bucket index before a
    * fold (each level is one micro-batch's leaf set). */
  val MaintainBatchLevels = 4
  /** Graph buffer rows tolerated as a fraction of graph nodes before a
    * rebuild folds them in (buffer rows are exact-scanned per probe). */
  val MaintainBufferRatio = 0.10
  /** Sub-graph segments tolerated before buffer growth triggers the FULL
    * rebuild (segment rebalance) instead of the incremental segment fold:
    * each segment adds one beam walk per probe, so unbounded segment
    * growth would trade fold cost for serving latency. */
  val MaintainMaxSegments = 16

  /** [[graft.sources.Layout.compact]]'s leaf and file skip rules for one
    * ledgered store. */
  private final case class LedgeredSkips(
      leaf: org.apache.hadoop.fs.Path => Boolean,
      file: org.apache.hadoop.fs.Path => Boolean)

  /** A held serving pin: the Tier-2 file list frozen at pin time, the
    * Spark relation over it, and the driver snapshot of its rows. */
  private final case class Pin(files: Seq[String], read: DataFrame,
      snapshot: graft.search.ServingSnapshot)

  /** One maintenance decision: which store, what ran, why. */
  final case class Maintenance(target: String, action: String, detail: String)
}
