package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession

import graft.api.Via

/** Concurrent-query serving benchmark (VERDICT r9 #4) — the load shape
  * the reference actually serves: its Radar/Atlas UIs fire cluster /
  * triage / tail queries concurrently against a store the 60 s analysis
  * worker keeps mutating (`/root/reference/ui.py:160-189,397-441`).
  * Every other bench here is sequential single-query; this one measures
  * what N parallel callers see.
  *
  * Method: one warehouse (StreamBench's OTel generator → batch ingest →
  * an analysis sweep that populates Tier-2 clusters), then for each
  * concurrency level N: N threads loop a fixed query mix (clusters /
  * triage / tail — the three UI verbs) for `durationSec`, under Spark's
  * FAIR scheduler (each caller tags its own pool, so one heavy plan
  * cannot convoy the rest — the config fix this bench exists to
  * motivate/validate). Reported: aggregate QPS + per-verb p50/p95
  * latency. A final level repeats with the 60 s analysis loop running
  * (interval compressed to 5 s) — the contention case.
  *
  * Usage: `sbt "runMain graft.ServeBench [nEvents] [durationSec]"`.
  * One JSON line per (level, verb) to stdout and
  * `target/servebench/results.jsonl`; SCALE.md records the table.
  */
object ServeBench {

  private final case class Obs(verb: String, micros: Long)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val durationSec = if (args.length > 1) args(1).toInt else 20
    // iterate on the big-store phase alone (skips warehouse setup + the
    // concurrency levels): SPARK_GRAFT_SERVE_BIG_ONLY=1
    val bigOnly = sys.env.get("SPARK_GRAFT_SERVE_BIG_ONLY").contains("1")
    val root = "target/servebench"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR across pools: each serving thread tags its own pool below,
      // so task slots round-robin across in-flight queries instead of
      // FIFO-convoying behind whichever query submitted first
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(root))
    val resultsPath = Paths.get(s"$root/results.jsonl")

    // ---- warehouse setup: generate, ingest, analyze into Tier-2 ----
    if (!bigOnly) {
    val work = Files.createTempDirectory("servebench").toString
    val via = new Via(spark, work)
    val base = 1700000000L
    val raw = spark.range(n).selectExpr(
      s"""format_string(
        '{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc%d"}}]},"scopeLogs":[{"logRecords":[{"timeUnixNano":"%d000000000","severityText":"%s","body":{"stringValue":"op %d completed in %d ms for user %d"}}]}]}]}',
        pmod(hash(id), 8),
        $base + pmod(hash(id, 1), 7200),
        element_at(array('INFO','INFO','INFO','WARN','ERROR'), int(pmod(hash(id, 2), 5)) + 1),
        pmod(hash(id, 3), 25),
        pmod(hash(id, 4), 500),
        pmod(hash(id, 5), 10000)) AS value""")
    via.ingestBatch(raw)
    // analysis sweep: populate Tier-2 with clusters across the event span
    val nowSec = base + 7200
    (1 to 20).foreach(i => via.analyzeOnce(base + i * 360L))
    val nClusters =
      try spark.read.parquet(s"$work/tier2").count()
      catch { case _: Exception => 0L }
    println(s"[servebench] warehouse ready: $n events, $nClusters tier2 rows")

    // one triage seed: any promoted rhythm hash
    val seedHash = via.clusters(nowSec).select("rhythm_hash")
      .limit(1).collect().headOption.map(_.getString(0)).getOrElse("")

    def runLevel(level: Int, withAnalysis: Boolean): Unit = {
      val analysisQ =
        if (withAnalysis) Some(via.startAnalysis(intervalSec = 5)) else None
      val verbs = Array("clusters", "triage", "tail")
      val stop = new AtomicBoolean(false)
      val obs = new java.util.concurrent.ConcurrentLinkedQueue[Obs]()
      val pool = Executors.newFixedThreadPool(level)
      val ready = new CountDownLatch(level)
      (0 until level).foreach { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            // per-thread FAIR pool: queries from different callers share
            // task slots instead of queueing
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
              s"serve-$t")
            ready.countDown(); ready.await()
            var i = t
            while (!stop.get()) {
              val verb = verbs(i % verbs.length)
              val t0 = System.nanoTime()
              verb match {
                case "clusters" => via.clusters(nowSec).collect()
                case "triage" =>
                  if (seedHash.nonEmpty) via.triage(Seq(seedHash), Nil).collect()
                  else via.clusters(nowSec).collect()
                case "tail" =>
                  via.tail(n = 100, filter = Some("completed")).collect()
              }
              obs.add(Obs(verb, (System.nanoTime() - t0) / 1000))
              i += 1
            }
          }
        })
      }
      Thread.sleep(durationSec * 1000L)
      stop.set(true)
      pool.shutdown(); pool.awaitTermination(120, TimeUnit.SECONDS)
      analysisQ.foreach { q => q.stop() }
      import scala.jdk.CollectionConverters._
      val all = obs.asScala.toSeq
      val totalSec = durationSec.toDouble
      val qps = all.size / totalSec
      def pct(xs: Seq[Long], p: Double): Double =
        if (xs.isEmpty) 0.0
        else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt)) / 1000.0
      val tag = if (withAnalysis) "_with_analysis" else ""
      verbs.foreach { v =>
        val xs = all.filter(_.verb == v).map(_.micros)
        val line =
          f"""{"leg":"serve$tag","level":$level,"verb":"$v","calls":${xs.size},""" +
          f""""p50_ms":${pct(xs, 0.5)}%.1f,"p95_ms":${pct(xs, 0.95)}%.1f,""" +
          f""""qps_total":$qps%.2f}"""
        println(s"[servebench] $line")
        Files.writeString(resultsPath, line + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }

    // serving stores are compacted (the maintenance verbs exist for
    // exactly this), and EVERY verb is warmed repeatedly: the first
    // executions pay whole-stage-codegen compilation that would
    // otherwise contaminate whichever concurrency level runs first
    via.compactTier1(); via.compactTier2()
    (1 to 3).foreach { _ =>
      via.clusters(nowSec).collect()
      if (seedHash.nonEmpty) via.triage(Seq(seedHash), Nil).collect()
      via.tail(n = 100, filter = Some("completed")).collect()
    }

    Seq(1, 4, 8, 16).foreach(runLevel(_, withAnalysis = false))
    runLevel(8, withAnalysis = true)
    }

    // ---- big-store phase (VERDICT r10 #1/#4): the promoted store the
    // reference claims for "terabytes of daily volume" — a Tier-2 too
    // big to exact-scan per call. Three serving modes over the SAME
    // 150k-row store: exact scan per call (old behavior), exact over the
    // pinned in-memory snapshot, and the graph ANN path over the pinned
    // snapshot (candidates from GraphIndex.probeCached, exact rescoring).
    val nBig = if (args.length > 2) args(2).toInt else 150000
    // SPARK_GRAFT_SERVE_BIG_DIR reuses a previously generated big store
    // (tier2 + built graphidx) so concurrency experiments don't re-pay
    // the ~13 min 600k graph build per run
    val work2 = sys.env.getOrElse("SPARK_GRAFT_SERVE_BIG_DIR",
      Files.createTempDirectory("servebench-big").toString)
    import org.apache.spark.sql.functions.col
    graft.GraftFunctions.register(spark)
    if (!Files.exists(Paths.get(s"$work2/tier2"))) {
      spark.range(nBig).selectExpr(
        "concat('h', id) as rhythm_hash",
        "if(id % 2 = 0, 'novelty', 'frequency') as anomaly_type",
        "concat('count=', 5 + id % 10) as anomaly_context",
        "concat('svc', id % 8) as service",
        "if(id % 5 = 0, 'ERROR', 'INFO') as severity",
        "concat('op ', id % 400, ' failed with code ', id % 7, ' for user ', id) as body",
        "cast(5 + id % 10 as bigint) as count",
        "1700000000 + id * 6 as start_ts",
        "1700000005 + id * 6 as end_ts")
        .withColumn("dense", graft.GraftFunctions.embedText(col("body")))
        .withColumn("dt", graft.analysis.DtPrune.dtOf(col("start_ts")))
        .write.mode("overwrite").partitionBy("dt").parquet(s"$work2/tier2")
    }
    def forcedVia(gate: Long) = new Via(spark, work2,
      clustersServeThreshold = gate, triageServeThreshold = gate)
    val viaExactCold = forcedVia(Long.MaxValue)
    val viaExactPin = forcedVia(Long.MaxValue)
    val viaGraphPin = forcedVia(1L)
    println(s"[servebench] big store: $nBig rows")
    var buildSec = -1.0
    if (!Files.exists(Paths.get(viaGraphPin.graphIndexPath))) {
      println(s"[servebench] building graph index")
      val tIdx = System.nanoTime()
      viaGraphPin.buildGraphIndex(numParts = 16)
      buildSec = (System.nanoTime() - tIdx) / 1e9
      println(f"[servebench] graph build: $buildSec%.1f s")
    }
    // the honest scanned-fraction of the graph at THIS corpus size
    // (distance evals / corpus — the walk-bounded-not-corpus-bounded
    // claim's metric), measured on serving-shaped probe vectors
    val scanQs = (0 until 8).map(i => i.toLong ->
      graft.functions.EmbedText.embedString(
        s"op $i failed with code ${i % 7} for user ${i * 37}")
        .map(_.toDouble).toSeq)
    val visitedFrac = graft.search.GraphIndex.scanStats(
      spark.read.parquet(s"${viaGraphPin.graphIndexPath}/graph"), scanQs)
    def emitLine(line: String): Unit = {
      println(s"[servebench] $line")
      Files.writeString(resultsPath, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    emitLine(s"""{"leg":"serve_big_graph","rows_requested":$nBig,""" +
      f""""build_sec":$buildSec%.1f,"visited_frac":$visitedFrac%.4f}""")
    // exact_cold is measured BEFORE any pin exists: a held pin is
    // session-wide (CacheManager substitutes the cached plan into any
    // same-root read), so pre-r13 "cold" numbers actually read the
    // exact pin's cache — conservative for the crossover conclusion
    // (true cold is slower), but mislabeled
    // a reused store's size wins over the nBig arg (the generator formula
    // ties nowBig to the row count)
    val bigRows = spark.read.parquet(s"$work2/tier2").count()
    // the driver heap of one snapshot, collected the way a pin collects
    // it, then each pin timed
    def pinAll(): Unit = {
      val root = new org.apache.hadoop.fs.Path(s"$work2/tier2")
      val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(root, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      val snapBytes = org.apache.spark.util.SizeEstimator.estimate(
        graft.search.ServingSnapshot.collect(files,
          fs => spark.read.option("basePath", root.toString)
            .parquet(fs.map(_.getPath.toString): _*), previous = None))
      emitLine(s"""{"leg":"serve_big_snapshot","rows":$bigRows,""" +
        s""""bytes":$snapBytes}""")
      for ((mode, via) <- Seq("exact_pinned" -> viaExactPin,
          "graph_pinned" -> viaGraphPin)) {
        val t0 = System.nanoTime()
        via.pinServing()
        emitLine(f"""{"leg":"serve_big_pin","mode":"$mode","rows":$bigRows,""" +
          f""""pin_s":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
    }
    val nowBig = 1700000000L + bigRows * 6L
    val posBig = Seq("h3", "h1003"); val negBig = Seq("h40")
    def callBig(via: Via, verb: String): Unit = verb match {
      case "clusters" =>
        via.clusters(nowBig, textFilter = Some("failed user")).collect()
      case "triage" => via.triage(posBig, negBig).collect()
    }
    val modes = Seq("exact_cold" -> viaExactCold, "exact_pinned" -> viaExactPin,
      "graph_pinned" -> viaGraphPin)
    def pctL(xs: Seq[Long], p: Double): Double =
      if (xs.isEmpty) 0.0
      else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt)) / 1000.0
    for ((mode, via) <- modes) {
      // cold runs with NO pin in the session; pins materialize only once
      // the cold numbers are recorded
      if (mode == "exact_pinned") pinAll()
      for (verb <- Seq("clusters", "triage")) {
        (1 to 3).foreach(_ => callBig(via, verb)) // warm codegen + caches
        val lats = (1 to 15).map { _ =>
          val t0 = System.nanoTime()
          callBig(via, verb)
          (System.nanoTime() - t0) / 1000
        }
        emitLine(
          f"""{"leg":"serve_big","mode":"$mode","verb":"$verb","rows":$bigRows,""" +
          f""""p50_ms":${pctL(lats, 0.5)}%.1f,"p95_ms":${pctL(lats, 0.95)}%.1f}""")
      }
    }

    // ---- concurrent graph-served leg: the resident-segment walk, the
    // per-call hit collect, and the driver rank all shared by N
    // callers at once — the load shape the single-caller table above
    // cannot see (lock convoys, pool contention, re-cache storms).
    val conc = sys.env.get("SPARK_GRAFT_SERVE_BIG_CONC").map(_.toInt).getOrElse(8)
    def runConcLeg(): Unit = {
      val verbs = Array("clusters", "triage")
      val stop = new AtomicBoolean(false)
      val obs = new java.util.concurrent.ConcurrentLinkedQueue[Obs]()
      val pool = Executors.newFixedThreadPool(conc)
      val ready = new CountDownLatch(conc)
      (0 until conc).foreach { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
              s"serve-big-$t")
            ready.countDown(); ready.await()
            var i = t
            while (!stop.get()) {
              val verb = verbs(i % verbs.length)
              val t0 = System.nanoTime()
              callBig(viaGraphPin, verb)
              obs.add(Obs(verb, (System.nanoTime() - t0) / 1000))
              i += 1
            }
          }
        })
      }
      Thread.sleep(durationSec * 1000L)
      stop.set(true)
      pool.shutdown(); pool.awaitTermination(120, TimeUnit.SECONDS)
      import scala.jdk.CollectionConverters._
      val all = obs.asScala.toSeq
      val qps = all.size.toDouble / durationSec
      verbs.foreach { v =>
        val xs = all.filter(_.verb == v).map(_.micros)
        val line =
          f"""{"leg":"serve_big_conc","level":$conc,"verb":"$v","rows":$bigRows,""" +
          f""""calls":${xs.size},"p50_ms":${pctL(xs, 0.5)}%.1f,""" +
          f""""p95_ms":${pctL(xs, 0.95)}%.1f,"qps_total":$qps%.2f}"""
        println(s"[servebench] $line")
        Files.writeString(resultsPath, line + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
    if (conc > 0) {
      viaGraphPin.unpinServing(); viaGraphPin.pinServing()
      (1 to 2).foreach(_ => Seq("clusters", "triage")
        .foreach(callBig(viaGraphPin, _)))
      runConcLeg()
    }
    spark.stop()
  }
}
