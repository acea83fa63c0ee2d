package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.api.Via

/** The seeded OTel stream `run.py` generated (see `seeded.py`). */
final case class Injected(anomalyType: String, prefix: String)
final case class Window(path: String, now: Long, injected: Seq[Injected])
final case class Stream(warmPath: String, warmNow: Long, backfill: Seq[(String, Long)],
    windows: Seq[Window], liveStart: Long, windowSec: Long)

object Stream {
  def read(inputs: String): Stream = {
    val m = new ObjectMapper().readTree(Paths.get(inputs, "manifest.json").toFile)
    def arr(n: JsonNode) = n.elements().asScala.toSeq
    Stream(s"$inputs/warm.jsonl", m.get("warm_now").asLong,
      arr(m.get("backfill")).map(b => b.get("path").asText -> b.get("rows").asLong),
      arr(m.get("windows")).map(w => Window(w.get("path").asText, w.get("now").asLong,
        arr(w.get("injected")).map(i => Injected(i.get("type").asText, i.get("prefix").asText)))),
      m.get("live_start").asLong, m.get("window_sec").asLong)
  }
}

/** The product loop's write path, run by `serve_mixed`'s writer: one
  * window = `ingestBatch` then `analyzeOnce`. */
object Loop {
  /** Hand one generated JSONL file to the engine. */
  def ingest(spark: SparkSession, via: Via, path: String): Unit =
    via.ingestBatch(spark.read.text(path))

  final case class WindowTimes(ingestMs: Double, analyzeMs: Double, freshMs: Double)

  /** Ingest window `w` and analyze it; freshness runs from the hand-off
    * to `ingestBatch` until `analyzeOnce` has appended the window's
    * clusters to Tier-2. */
  def window(ctx: Ctx, via: Via, w: Window): WindowTimes = {
    val tr = ctx.tracer
    val (times, fresh) = tr.span("loop.window", newOp = true) {
      val in = tr.span("streaming.ingest_live")(ingest(ctx.spark, via, w.path))._2
      val an = tr.span("streaming.analyze")(via.analyzeOnce(w.now))._2
      (in, an)
    }
    WindowTimes(times._1, times._2, fresh)
  }

  /** Data files under a store: hidden and `_`-prefixed entries (commit
    * ledgers, checksums) are not data. */
  def dataFiles(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val all = Files.walk(root)
      try all.iterator.asScala.count { p =>
        Files.isRegularFile(p) && !root.relativize(p).iterator.asScala.exists { part =>
          val n = part.toString
          n.startsWith("_") || n.startsWith(".")
        }
      }.toLong
      finally all.close()
    }

  /** Check Tier-2 against the manifest: the clusters promoted for each
    * analyzed window must be exactly its injected anomalies. Returns
    * (promoted clusters, injected anomalies promoted, injected). */
  def checkPromotions(ctx: Ctx, res: Result, via: Via, s: Stream,
      analyzed: Seq[Window]): (Long, Long, Long) = {
    val rows = ctx.spark.read.parquet(via.tier2Path)
      .filter(s"start_ts >= ${s.liveStart}")
      .select("start_ts", "anomaly_type", "body").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byWindow = rows.groupBy(r => (r._1 - s.liveStart) / s.windowSec)
    var hit = 0L
    analyzed.zipWithIndex.foreach { case (w, i) =>
      val got = byWindow.getOrElse(i.toLong, Array.empty)
      val matched = w.injected.count(inj => got.count(g =>
        g._2 == inj.anomalyType && g._3.startsWith(inj.prefix)) == 1)
      hit += matched
      res.check(s"window$i.promotions", got.length == w.injected.size &&
          matched == w.injected.size,
        s"promoted ${got.length} clusters, ${matched} of ${w.injected.size} injected " +
          s"anomalies: ${got.map(g => g._2 + ":" + g._3.take(40)).mkString("; ")}")
    }
    val inWindows = byWindow.filter(_._1 < analyzed.size).values.map(_.length.toLong).sum
    (inWindows, hit, analyzed.map(_.injected.size.toLong).sum)
  }

  /** The write path's layer metrics. */
  def streamingLayers(ctx: Ctx, res: Result, windows: Seq[Loop.WindowTimes],
      promoted: Long, hit: Long, injected: Long): Unit = {
    val ingest = windows.map(_.ingestMs)
    val q = math.max(1, ingest.size / 4)
    res.layers("streaming.ingest_live_ms.p50") = Stats.median(ingest)
    res.layers("streaming.ingest_drift") =
      Stats.median(ingest.takeRight(q)) / math.max(Stats.median(ingest.take(q)), 1e-9)
    res.layers("streaming.fresh_ms.p50") = Stats.median(windows.map(_.freshMs))
    res.layers("streaming.fresh_ms.p75") = Stats.pct(windows.map(_.freshMs), 0.75)
    res.layers("streaming.analyze_ms.p50") = Stats.median(windows.map(_.analyzeMs))
    res.layers("streaming.analyze_ms.p75") = Stats.pct(windows.map(_.analyzeMs), 0.75)
    val work = ctx.tracer.workBySpan()
    // the completed windows' cycles (a cycle cut by the phase end is not one)
    val cycles = ctx.tracer.allSpans().filter(_.name == "streaming.analyze")
      .sortBy(_.startMs).take(windows.size)
    val cw = cycles.flatMap(c => work.get(c.id))
    res.layers("analysis.jobs_per_cycle") = cw.map(_.jobs).sum.toDouble / math.max(1, cycles.size)
    res.layers("analysis.rows_read_per_cycle") =
      cw.map(_.inputRows).sum.toDouble / math.max(1, cycles.size)
    res.layers("analysis.promoted_clusters") = promoted.toDouble
    res.layers("analysis.injected_recall") = hit.toDouble / math.max(1L, injected)
  }
}
