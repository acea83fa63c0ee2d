package perfbench

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame

import graft.api.Via

/** `serve_mixed`: serving verbs beside the analysis loop on the same
  * stores.
  *
  *  - set-up: a fresh warehouse whose Tier-2 holds the seeded promoted
  *    clusters (rolled up by `Promoter.rollup`, with `dense` embeddings;
  *    below `Via.ClustersServeThreshold`, so every verb takes the exact
  *    route) and whose Tier-1 holds the backfill batches, then
  *    `pinServing`; [[UntimedSetups]] untimed set-ups, then [[SetupReps]]
  *    timed ones, reported as the median. The timed backfill batches give the
  *    ingest rate (rows / time inside `ingestBatch`);
  *  - warm-up and check (untimed): one warm batch ingested and analyzed;
  *    for each kind of call, the pinned result equals the unpinned call,
  *    and `tail` returns exactly n rows that all match its filter; then
  *    one untimed round of the first [[WarmCalls]] seeded calls;
  *  - mixed phase: one writer runs the generated live windows back to
  *    back, calling `refreshServing` after each window and
  *    `maintainIndexes` after the first and every [[MaintainEvery]]th;
  *    [[Callers]] caller cycles through the seeded calls (`clusters` by
  *    time window, `clusters` with a text filter, `triage`,
  *    `tail(100, filter)` with a broad or a selective filter) until the
  *    writer's last window is done.
  */
object Serve {
  /** Set-ups before the timed ones: the JVM's cold start lands there. */
  val UntimedSetups = 1
  val SetupReps = 2
  val TailN = 100
  /** Untimed calls before the mixed phase; every kind of call is among
    * the first 32 of the seeded list. */
  val WarmCalls = 32
  /** The writer runs `maintainIndexes` after its first window and then
    * after every third. */
  val MaintainEvery = 3

  /** Serving callers beside the writer. One caller in a closed loop: with
    * a caller on every core but the writer's, the callers' and the
    * writer's jobs queue behind each other; over ten seeds each, the mean
    * call and calls/s spread 0.18 and 0.16 with three callers, 0.10 and
    * 0.09 with one (see the README). */
  val Callers = 1

  final case class Call(verb: String, json: JsonNode) {
    /** The verb, and for `tail` its filter's kind (broad or selective). */
    def kind: String = Option(json.get("kind")).fold(verb)(k => s"${verb}_${k.asText}")
  }

  def run(ctx: Ctx, res: Result): Phase = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val s = Stream.read(ctx.args.inputs)
    val cfg = new ObjectMapper().readTree(Paths.get(ctx.args.inputs, "serve.json").toFile)
    val now = cfg.get("now").asLong
    val calls = cfg.get("calls").elements().asScala.toSeq.map(c => Call(c.get("verb").asText, c))
    def strs(n: JsonNode) = n.elements().asScala.map(_.asText).toSeq

    def invoke(via: Via, c: Call): DataFrame = c.verb match {
      case "clusters" => via.clusters(now, Some(c.json.get("start").asLong),
        Some(c.json.get("end").asLong))
      case "clusters_text" => via.clusters(now, textFilter = Some(c.json.get("filter").asText))
      case "triage" => via.triage(strs(c.json.get("positive")), strs(c.json.get("negative")))
      case "tail" => via.tail(TailN, Some(c.json.get("filter").asText))
    }

    // ---- set-up
    val backfillMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pinMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setups = (1 to UntimedSetups + SetupReps).map { i =>
      val timed = i > UntimedSetups
      tr.span("setup.warehouse", newOp = true) {
        val via = new Via(spark, ctx.work(s"warehouse-$i"))
        tr.span("setup.tier2") {
          val points = spark.read
            .schema("rhythm_hash STRING, anomaly_type STRING, ts_sec BIGINT, " +
              "service STRING, severity STRING, body STRING")
            .json(s"${ctx.args.inputs}/tier2_points.jsonl")
          val anomalies = points.groupBy("rhythm_hash", "anomaly_type").count()
            .selectExpr("rhythm_hash", "anomaly_type", "count AS n",
              "IF(anomaly_type = 'frequency', 1.0D, CAST(NULL AS DOUBLE)) AS baseline_mean")
          graft.analysis.Promoter.rollup(anomalies, points.drop("anomaly_type"))
            .write.mode("append").partitionBy("dt").parquet(via.tier2Path)
        }
        s.backfill.foreach { case (path, _) =>
          val ms = tr.span("streaming.ingest_backfill")(Loop.ingest(spark, via, path))._2
          if (timed) backfillMs += ms
        }
        val ms = tr.span("api.pin")(via.pinServing())._2
        if (timed) pinMs += ms
        via
      }
    }
    Main.log("set-ups " + setups.map(r => f"${r._2 / 1000}%.2f s").mkString(", "))
    res.e2e("setup_s") = Stats.median(setups.drop(UntimedSetups).map(_._2)) / 1000
    val via = setups.last._1
    setups.init.foreach(_._1.unpinServing())
    // untimed warm batch: ingested and analyzed once before any check,
    // and its promotions pinned
    Loop.ingest(spark, via, s.warmPath)
    via.analyzeOnce(s.warmNow)
    via.refreshServing()

    // ---- check: pinned == unpinned, per kind of call; tail's size and
    // filter (one call of each kind, the kinds on parallel threads)
    val unpinned = new Via(spark, Paths.get(via.tier1Path).getParent.toString)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    calls.groupBy(_.kind).values.map(_.head).toSeq.par.foreach { c =>
      res.attempt(s"check.${c.kind}") {
        val pinned = invoke(via, c).collect()
        res.check(s"check.${c.kind}.pinned_equals_unpinned",
          pinned.map(_.toString).toSeq.sorted == rows(invoke(unpinned, c)),
          "pinned result differs from the unpinned call")
        if (c.verb == "tail") {
          val f = c.json.get("filter").asText.toLowerCase
          res.check(s"check.${c.kind}.rows", pinned.length == TailN &&
              pinned.forall(r => r.getAs[String]("body").toLowerCase.contains(f)),
            s"tail returned ${pinned.length} rows, or rows not matching '$f'")
        }
      }
    }
    // one untimed round of calls on all cores but one, so the timed calls
    // do not pay for the first compilation of their code
    val warmPool = new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(math.max(1, ctx.cores - 1)))
    val warmCalls = calls.take(WarmCalls).par
    warmCalls.tasksupport = warmPool
    warmCalls.foreach(c => res.attempt(s"warm.${c.kind}")(invoke(via, c).collect()))
    warmPool.environment.shutdown()
    Main.log("warm-up and checks done")

    // ---- mixed phase
    val callers = Callers
    val stop = new AtomicBoolean(false)
    val obs = new ConcurrentLinkedQueue[(Call, Double)]()
    val windows = new ConcurrentLinkedQueue[Loop.WindowTimes]()
    val refreshMs = new ConcurrentLinkedQueue[Double]()
    val maintain = new ConcurrentLinkedQueue[(Double, Long)]()
    val tier1 = Paths.get(via.tier1Path)
    val pool = Executors.newFixedThreadPool(callers + 1)
    val ready = new CountDownLatch(callers + 1)
    val done = new ConcurrentLinkedQueue[Double]()
    val t0 = Clock.nowMs
    (0 until callers).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          ready.countDown(); ready.await()
          var i = t * calls.size / callers
          while (!stop.get()) {
            val c = calls(i % calls.size)
            res.attempt(s"call.${c.verb}") {
              obs.add(c -> tr.span(s"serve.${c.kind}", newOp = true)(
                invoke(via, c).collect())._2)
            }
            i += 1
          }
          done.add(Clock.nowMs)
        }
      })
    }
    val writer = pool.submit(() => {
      ready.countDown(); ready.await()
      // a fixed number of windows back to back (a time bound would let a
      // window that ends near it start another one in some runs only);
      // the callers keep calling until the last one is done, so every
      // call is served beside a running writer
      val w0 = Clock.nowMs
      s.windows.zipWithIndex.foreach { case (win, w) =>
        res.attempt(s"window$w") {
          val wt = Loop.window(ctx, via, win)
          refreshMs.add(tr.span("api.refresh", newOp = true)(via.refreshServing())._2)
          if (w % MaintainEvery == 0) {
            val before = Loop.dataFiles(tier1)
            val (acts, ms) = tr.span("sources.maintain", newOp = true)(via.maintainIndexes())
            maintain.add(ms -> math.max(0L, before - Loop.dataFiles(tier1)))
            Main.log("maintain: " +
              acts.map(a => s"${a.target}:${a.action} ${a.detail}").mkString("; "))
          }
          windows.add(wt)
        }
      }
      Clock.nowMs - w0
    })
    val writerMs = writer.get()
    stop.set(true)
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    // the phase ends when the last caller's in-flight call returns
    val t1 = done.asScala.max
    val all = obs.asScala.toSeq
    val ms = all.map(_._2)
    if (tr.enabled) {
      // ROADMAP layer rule: ingest, analyze, refresh and maintain account
      // for the writer's wall time
      Main.layerRule(res, "writer", windows.asScala.map(w => w.ingestMs + w.analyzeMs).sum +
        refreshMs.asScala.sum + maintain.asScala.map(_._1).sum, writerMs)
    }
    // the mean call (the median falls between the call kinds' clusters of
    // latencies and jumps with the mix), and the 75th percentile: of ~25
    // calls a run it is the highest with several calls beyond it (the 90th
    // spread past the bound from run to run)
    res.e2e("latency_ms") = ms.sum / math.max(1, ms.size)
    res.e2e("tail_latency_ms") = Stats.pct(ms, 0.75)
    res.e2e("throughput_per_s") = all.size / ((t1 - t0) / 1000)
    val wt = windows.asScala.toSeq
    Main.log(f"serve: ${all.size} calls by $callers callers; " +
      f"${wt.size} writer windows, fresh " +
      wt.map(w => f"${w.ingestMs}%.0f+${w.analyzeMs}%.0f").mkString(" "))

    val (promoted, hit, injected) =
      Loop.checkPromotions(ctx, res, via, s, s.windows.take(wt.size))
    if (tr.enabled) {
      Loop.streamingLayers(ctx, res, wt, promoted, hit, injected)
      res.layers("streaming.ingest_ms.p50") = Stats.median(backfillMs.toSeq)
      res.layers("streaming.ingest_rows_per_s") =
        SetupReps * s.backfill.map(_._2).sum / (backfillMs.sum / 1000)
      val m = maintain.asScala.toSeq
      res.layers("sources.maintain_ms") = Stats.median(m.map(_._1))
      res.layers("sources.files_compacted") = m.map(_._2).sum.toDouble
      res.layers("sources.tier1_files_end") = Loop.dataFiles(tier1).toDouble
      val byVerb = all.groupBy(_._1.verb)
      for ((verb, name) <- Seq("clusters" -> "search.clusters_ms",
          "clusters_text" -> "search.clusters_text_ms", "triage" -> "search.triage_ms",
          "tail" -> "api.tail_ms")) {
        val v = byVerb.getOrElse(verb, Nil).map(_._2)
        res.layers(s"$name.p50") = Stats.median(v)
        res.layers(s"$name.p95") = Stats.pct(v, 0.95)
      }
      res.layers("api.tail_selective_ms.p50") =
        Stats.median(all.filter(_._1.kind == "tail_selective").map(_._2))
      val work = tr.workBySpan()
      val callWork = tr.allSpans().filter(_.name.startsWith("serve.")).flatMap(c => work.get(c.id))
      res.layers("search.jobs_per_call") = callWork.map(_.jobs).sum.toDouble / math.max(1, all.size)
      res.layers("search.rows_read_per_call") =
        callWork.map(_.inputRows).sum.toDouble / math.max(1, all.size)
      res.layers("api.pin_s") = Stats.median(pinMs.toSeq) / 1000
      res.layers("api.refresh_ms") = Stats.median(refreshMs.asScala.toSeq)
      res.layers("cache.pinned_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    }
    Phase(t0, t1, all.size.toLong)
  }
}
