package graft.streaming

import graft.analysis.{DtPrune, Promoter, RhythmAnalyzer}
import graft.control.Rules
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** T2/T3/T7 — the 60-second analysis loop: detect rhythm anomalies over
  * the Tier-1 store, enforce control rules, promote clusters to Tier-2.
  *
  * Reference (`/root/reference/app/worker.py:13-36` →
  * `rhythm_analysis_service.py:66-108` → `promotion_service.py:14-53`):
  * an asyncio task every `ANALYSIS_INTERVAL_SEC=60` analyzes the last 60 s
  * against a 10k-point historical sample; errors are logged and the loop
  * continues.
  *
  * Spark: each trigger is ONE batch plan over the Tier-1 table — exactly
  * what the reference does via two Qdrant scrolls, but with partition
  * pruning on `dt` and Parquet ts min/max instead of payload indexes. The
  * rolling baseline stays a batch top-k per trigger (SURVEY §7.5.5) rather
  * than keyed streaming state: the reference re-reads history every cycle,
  * and a 10k-row TakeOrdered over a pruned day range is cheap at any SF.
  */
object AnalysisJob {

  /** Tier-1 bounded to `[fromSec, toSec]` — `dt` partition pruning plus the
    * matching `ts_sec` row-group bound. Every production read goes through
    * this; an unbounded `spark.read.parquet(tier1)` would re-list ALL
    * history every trigger (see [[graft.analysis.DtPrune]]). */
  def tier1Window(
      spark: SparkSession,
      tier1Path: String,
      fromSec: Long,
      toSec: Long): DataFrame =
    // slackDays = 2: partition names carry the WRITER's session zone, so
    // a reader up to 26 h away (UTC-12 vs UTC+14) sees a row's day name
    // shifted by up to 2 days. detect() re-filters on exact ts_sec both
    // sides, so the wider dt bound is result-identical in-zone and makes
    // the window exact cross-zone (TzPropertySpec) at the cost of at most
    // 4 extra per-day listings.
    DtPrune(spark.read.parquet(tier1Path), fromSec, toSec, slackDays = 2)

  /** Initial event-time span probed below the window for the baseline
    * sample (widens ×8 on shortfall): at the reference's 100 logs/s an
    * hour holds ~36× the 10k sample. */
  val AnchorInitialSpanSec: Long = 3600L
  /** Cross-timezone slack on partition-name day arithmetic (the widest
    * legal divergence between writer and reader session zones is 26 h —
    * same bound `Via.tail` carries). */
  private val TzSlackSec: Long = 2L * 86400

  /** [[tier1Window]] narrowed to the FILES the analysis cycle can
    * actually need — the zone-map anchor (VERDICT r12 item 7).
    *
    * `RhythmAnalyzer.detect` consumes two slices of Tier-1: every row
    * with `ts_sec >= windowStart` (the 60 s window) and the most recent
    * `histSample` rows older than that (the baseline). On a compacted
    * multi-GB day the dt-pruned scan still lists, footer-reads and
    * task-schedules the WHOLE day every trigger for what is almost
    * always its newest one or two row groups. This probes an anchor
    * `windowStart - span` instead:
    *
    *  - partitions whose day-end (+ tz slack) falls below the anchor are
    *    excluded by name arithmetic alone — no footer reads for cold
    *    history;
    *  - within the straddling partitions, a file is kept iff its parquet
    *    footer cannot prove `max(ts_sec) < anchor` (exclusion by proof,
    *    inclusion by default — a stat-less file is kept);
    *  - every row with `ts_sec >= anchor` therefore survives (its file's
    *    max is >= its own ts), so if the kept set holds >= `histSample`
    *    baseline rows the global baseline top-k lies entirely inside it
    *    and the anchored relation is EXACT for both consumers — the same
    *    ">= n in-window rows => global top-n in-window" argument
    *    `Via.tail` rides; on shortfall the span widens ×8 and past the
    *    look-back horizon it falls back to the plain [[tier1Window]].
    *
    * Declines (→ full window) when anchoring cannot help or cannot be
    * proven: no dated partitions, straddling partitions holding more
    * than `FooterStats.MaxFiles` files (un-compacted stores should spend
    * cluster parallelism, not driver footer reads), or no file
    * excluded. */
  private[graft] def anchoredTier1(
      spark: SparkSession,
      tier1Path: String,
      windowStart: Long,
      nowSec: Long,
      baselineLookbackSec: Long,
      histSample: Int = RhythmAnalyzer.DefaultHistSample): DataFrame = {
    import org.apache.hadoop.fs.Path
    def full() = tier1Window(spark, tier1Path,
      windowStart - baselineLookbackSec, nowSec)
    val root = new Path(tier1Path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return full()
    val zone =
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    def dateOf(sec: Long) =
      java.time.Instant.ofEpochSecond(sec).atZone(zone).toLocalDate
    val fromD = dateOf(windowStart - baselineLookbackSec)
    val toD = dateOf(nowSec)
    // the same dated-partition set DtPrune's expression scans (session-tz
    // dates); undated leaves are invisible to both paths
    val leaves = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("dt="))
      .flatMap(p => scala.util.Try(
        java.time.LocalDate.parse(p.getName.stripPrefix("dt="))).toOption
        .map(d => (d, p)))
      .filter { case (d, _) => !d.isBefore(fromD) && !d.isAfter(toD) }
      .sortBy(_._1.toEpochDay)
    if (leaves.isEmpty) return full()
    val totalLeaves = leaves.length
    var span = AnchorInitialSpanSec
    while (span < baselineLookbackSec) {
      val anchor = windowStart - span
      // partitions that could hold a row with ts >= anchor
      val live = leaves.filter { case (d, _) =>
        d.plusDays(1).atStartOfDay(zone).toEpochSecond + TzSlackSec > anchor }
      // one listing per live partition, shared by the cap check and the
      // footer reads (a second LIST per dir would double the object-
      // store round trips on the hot analysis path); the cap check runs
      // BEFORE any footer IO so a badly fragmented partition costs one
      // listing to decline, not thousands of driver footer reads
      val liveFiles = live.flatMap { case (_, p) =>
        graft.sources.FooterStats.listDataFiles(spark, p.toString) }
      if (liveFiles.length > graft.sources.FooterStats.MaxFiles)
        return full()
      val stats =
        graft.sources.FooterStats.perFileStats(spark, liveFiles, "ts_sec")
      val kept = stats.collect { case (f, m) if m.forall(_.max >= anchor) => f }
      if (live.length == totalLeaves && kept.length == stats.length)
        return full() // nothing excluded: anchoring buys nothing here
      // Coverage proof, entirely from footers (zero Spark jobs — a count
      // job per trigger measurably outweighed the pruning it enabled):
      // only rows at/above the anchor may count, because the kept set
      // provably holds EVERY such row while an excluded file can hold
      // rows newer than a kept file's sub-anchor stragglers. A file
      // whose whole [min, max] sits inside [anchorLow, windowStart)
      // contributes its non-null row count; straddling or stat-less
      // files contribute 0 — the bound only ever UNDERSTATES coverage,
      // so a pass is a proof and a miss just widens the span.
      val anchorLow = math.max(anchor, windowStart - baselineLookbackSec)
      val provenBaseRows = stats.iterator.flatMap(_._2)
        .filter(s => s.min >= anchorLow && s.max < windowStart)
        .map(_.nonNullRows).sum
      if (provenBaseRows >= histSample && kept.nonEmpty) {
        // schema from the NEWEST kept file's footer, driver-side: plain
        // `spark.read.parquet(files)` fires a Spark job just to infer it
        // (the job floor ate the anchoring win — AnchorBench)
        val newest = stats
          .filter { case (_, m) => m.forall(_.max >= anchor) }
          .maxBy(_._2.map(_.max).getOrElse(Long.MinValue))._1
        return graft.sources.FooterStats.readDayPartitioned(spark,
          tier1Path, kept, newest)
      }
      span *= 8
    }
    full()
  }

  /** One analysis cycle (the body of the 60 s loop, also the
    * `POST /analysis/tier1/rhythm_anomalies` semantics). Returns the
    * promoted clusters (possibly empty). */
  def runOnce(
      spark: SparkSession,
      tier1Path: String,
      tier2Path: String,
      rules: Rules,
      nowSec: Long,
      windowSec: Long = 60,
      baselineLookbackSec: Long = RhythmAnalyzer.DefaultBaselineLookbackSec,
      graphIndexPath: Option[String] = None): DataFrame =
    runCycle(spark, tier1Path, tier2Path, rules, nowSec, windowSec,
      baselineLookbackSec, graphIndexPath, anchored = true)

  /** [[runOnce]]; `anchored = false` reads the plain [[tier1Window]]
    * instead of [[anchoredTier1]] — the reference side of the
    * anchored-equals-full comparison (AnchoredWindowSpec). */
  private[streaming] def runCycle(
      spark: SparkSession,
      tier1Path: String,
      tier2Path: String,
      rules: Rules,
      nowSec: Long,
      windowSec: Long,
      baselineLookbackSec: Long,
      graphIndexPath: Option[String],
      anchored: Boolean): DataFrame = {
    val windowStart = nowSec - windowSec
    // the detector needs window + look-back horizon: dt-pruned to exactly
    // that, then file-anchored below the window (footer zone maps) so a
    // compacted multi-GB day feeds the 60 s trigger from its newest row
    // groups only — provably result-identical (see [[anchoredTier1]])
    val t1 =
      if (anchored) anchoredTier1(spark, tier1Path, windowStart, nowSec,
        baselineLookbackSec)
      else tier1Window(spark, tier1Path, windowStart - baselineLookbackSec,
        nowSec)
    // the baseline sample is cached for its two consumers and released
    // when the cycle ends: left cached, every cycle leaked one cached
    // plan into the session
    val sample = RhythmAnalyzer.baselineSample(t1, windowStart,
      baselineLookbackSec = baselineLookbackSec).cache()
    try {
      val anomalies = rules.enforce(
        RhythmAnalyzer.detect(t1, windowStart, windowSec.toDouble,
          baselineLookbackSec = baselineLookbackSec,
          baseSample = Some(sample)), nowSec)
      val recentPoints = DtPrune(
        t1.filter(col("ts_sec") >= windowStart), windowStart, nowSec)
      val rollup = Promoter.rollup(anomalies, recentPoints)
      // the rollup is evaluated ONCE per cycle: it is control-plane sized,
      // so it is collected, and the empty check, the Tier-2 write, the
      // graph append and the returned rows all read that one
      // materialization (min_by ties could otherwise pick different
      // representatives per execution)
      val rows = rollup.collect()
      val clusters = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), rollup.schema)
      if (rows.nonEmpty) {
        // one file per touched day: a handful of rows per cycle
        clusters.coalesce(1)
          .write.mode("append").partitionBy("dt").parquet(tier2Path)
        // an EXISTING serving graph must see batch-promoted rows too —
        // the streaming path appends per micro-batch, and without this
        // the batch path silently drifted the index (ADVICE r11 medium).
        // A path whose store was never created stays untouched — no
        // stray index dirs for callers that never built one.
        graphIndexPath.filter { p =>
          val root = new org.apache.hadoop.fs.Path(p)
          root.getFileSystem(spark.sessionState.newHadoopConf()).exists(root)
        }.foreach(p => graft.search.TierIndex.append(clusters, p))
      }
      clusters
    } finally sample.unpersist()
  }

  /** Continuous mode: a rate-source heartbeat triggers [[runOnce]] per
    * interval via foreachBatch — the Structured Streaming analogue of the
    * reference's background worker (errors logged, loop continues,
    * `worker.py:29-34`). The clock is derived from wall time here; tests
    * use [[runOnce]] with an injected clock. */
  def start(
      spark: SparkSession,
      tier1Path: String,
      tier2Path: String,
      rules: Rules,
      intervalSec: Long = 60,
      windowSec: Long = 60,
      graphIndexPath: Option[String] = None): StreamingQuery = {
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .trigger(Trigger.ProcessingTime(intervalSec * 1000))
      .foreachBatch { (_: DataFrame, _: Long) =>
        try {
          runOnce(spark, tier1Path, tier2Path, rules,
            System.currentTimeMillis() / 1000, windowSec,
            graphIndexPath = graphIndexPath)
          ()
        } catch {
          case e: Exception =>
            // reference behavior: log and keep the loop alive (worker.py:32-34)
            System.err.println(s"[analysis] cycle failed: ${e.getMessage}")
        }
      }
      .start()
  }
}
