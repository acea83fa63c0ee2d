package graft.api

import java.nio.file.Files

import graft.SparkSpec

/** The user-facing surface end to end: everything a reference user calls
  * over REST, through the `Via` facade. */
class ViaSpec extends SparkSpec {

  private val now = 1700000000L

  private def otel(service: String, level: String, ts: Long, body: String) =
    s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$service"}}]},""" +
      s""""scopeLogs":[{"logRecords":[{"timeUnixNano":"${ts}000000000","severityText":"$level",""" +
      s""""body":{"stringValue":"$body"}}]}]}]}"""

  test("batch ingest -> analyze -> clusters -> triage -> control round trip") {
    import spark.implicits._
    val via = new Via(spark, Files.createTempDirectory("via").toString)

    val lines =
      (0 until 120 by 5).map(i => otel("web", "INFO", now - 660 + i * 5,
        s"handled request ${i} in ${i % 40} ms")) ++
      (0 until 12).map(i => otel("web", "INFO", now - 55 + i * 4,
        s"handled request ${900 + i} in ${i} ms")) ++
      (0 until 4).map(i => otel("db", "ERROR", now - 50 + i,
        s"deadlock detected on orders table $i")) ++
      (0 until 5).map(i => otel("cache", "WARN", now - 40 + i,
        s"evicted hot session key $i"))
    via.ingestBatch(lines.toDF("value"))

    assert(via.tail(n = 3).count() == 3)
    assert(via.tail(n = 100, filter = Some("DEADLOCK")).count() == 4)

    val found = via.analyzeOnce(now)
    val types = found.select("anomaly_type", "rhythm_hash").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(types.exists(_._1 == "novelty"), types.toSeq.toString)

    val clusters = via.clusters(now, textFilter = Some("deadlock detected"))
    assert(clusters.count() >= 1)
    val top = clusters.collect().head
    assert(top.getAs[String]("service") == "db")

    // triage: recommend other clusters given the deadlock one as positive
    val allClusters = via.clusters(now)
    if (allClusters.count() >= 2) {
      val posHash = top.getAs[String]("rhythm_hash")
      val t = via.triage(Seq(posHash), Nil)
      assert(!t.select("rhythm_hash").collect().map(_.getString(0)).contains(posHash))
    }

    // suppress one hash -> gone from next analysis; unsuppress -> back
    val h = types.head._2
    via.suppress(h, ttlSec = 600, nowSec = now)
    assert(!via.analyzeOnce(now).select("rhythm_hash").as[String]
      .collect().contains(h))
    via.unsuppress(h)
    assert(via.activeRules(now).count() == 0)

    // patch writes the eval case file
    via.patch(h, now)
    assert(via.evals.readAll().exists(_.rhythmHash == h))
    assert(via.activeRules(now).count() == 1)

    // schema registry round trip
    val det = via.detectSchema(Seq(otel("s", "INFO", now, "x")))
    assert(det.isDefined)
    via.saveSchema("otel-src", det.get)
    assert(via.listSchemas() == Seq("otel-src"))

    // store maintenance: a second batch fragments tier1; compaction
    // collapses the fragments without changing what tail() sees
    via.ingestBatch(lines.take(10).toDF("value"))
    val tailBefore = via.tail(n = 1000).collect().map(_.toString).sorted
    val stats = via.compactTier1()
    assert(stats.filesAfter <= stats.filesBefore, stats.toString)
    assert(via.tail(n = 1000).collect().map(_.toString).sorted
      .sameElements(tailBefore), "compaction changed tail() content")
  }

  test("tail over a multi-day store: partition-pruned == full scan") {
    import spark.implicits._
    val via = new Via(spark, Files.createTempDirectory("via-tail").toString)
    // five days of events, newest day holding plenty and a filter term
    // that only matches in OLD days (forces the widening loop deep)
    val day = 86400L
    val lines = (0 until 5).flatMap { d =>
      (0 until 40).map { i =>
        val tag = if (d >= 3) "archivalterm" else "routine"
        otel("svc", "INFO", now - d * day + i, s"$tag event day$d item $i")
      }
    }
    via.ingestBatch(lines.toDF("value"))
    val full = graft.streaming.IngestPipeline
      .tail(spark.read.parquet(via.tier1Path), 100, None)
      .collect().map(_.toString).sorted
    assert(via.tail(n = 100).collect().map(_.toString).sorted
      .sameElements(full), "pruned tail diverged from the full scan")
    // newest-day-only filter: served from one partition
    assert(via.tail(n = 10, filter = Some("routine")).count() == 10)
    // a term absent from the newest days: widening must reach day 3+
    val deep = via.tail(n = 50, filter = Some("archivalterm"))
      .collect().map(_.toString).sorted
    val deepFull = graft.streaming.IngestPipeline
      .tail(spark.read.parquet(via.tier1Path), 50, Some("archivalterm"))
      .collect().map(_.toString).sorted
    assert(deep.sameElements(deepFull))
    assert(deep.length == 50)
    // more rows requested than the whole store holds: full fallback
    assert(via.tail(n = 10000).count() == lines.length)
  }

  test("tail within one day: window-probed == full scan (row-group path)") {
    import spark.implicits._
    val via = new Via(spark, Files.createTempDirectory("via-tail1").toString)
    // one SINGLE day partition spanning ~3 h of event time, with the
    // filter term confined to the OLDEST seconds: the first 64 s probe
    // window must come up short and widen ×8 until it reaches them —
    // the pre-r12 code full-scanned every single-partition store, so
    // this pins both halves of the new path (exactness after widening,
    // and the single-day store taking the probe path at all)
    val dayStart = (now / 86400L) * 86400L + 2000
    val lines = (0 until 200).map { i =>
      val tag = if (i < 20) "earlyterm" else "lateterm"
      otel("svc", "INFO", dayStart + i * 50, s"$tag event item $i")
    }
    via.ingestBatch(lines.toDF("value"))
    assert(spark.read.parquet(via.tier1Path)
      .select("dt").distinct().count() == 1)
    // unfiltered: top-100 sits inside the first window at this density
    val full = graft.streaming.IngestPipeline
      .tail(spark.read.parquet(via.tier1Path), 100, None)
      .collect().map(_.toString).sorted
    assert(via.tail(n = 100).collect().map(_.toString).sorted
      .sameElements(full), "probed tail diverged from the full scan")
    // term only in the oldest 1000 s of the day: forces deep widening
    val deep = via.tail(n = 15, filter = Some("earlyterm"))
      .collect().map(_.toString).sorted
    val deepFull = graft.streaming.IngestPipeline
      .tail(spark.read.parquet(via.tier1Path), 15, Some("earlyterm"))
      .collect().map(_.toString).sorted
    assert(deep.sameElements(deepFull))
    assert(deep.length == 15)
    // fewer matches than requested anywhere in the store: the loop ends
    // at the oldest day-start with the exact short result
    assert(via.tail(n = 100, filter = Some("earlyterm")).count() == 20)
  }

  test("tail in a non-UTC session timezone: terminal shortfall stays exact") {
    import spark.implicits._
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // UTC+14: the local day starts 14 h BEFORE the UTC day, so the
      // oldest partition holds rows below its name's UTC epoch. The
      // pre-r13 terminal condition (UTC day-start) declared a short
      // result final while `ts_sec >= from` still excluded those rows —
      // tail silently dropped them (ADVICE r12 medium).
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      val via = new Via(spark, Files.createTempDirectory("via-tailtz").toString)
      val utcMidnight = (now / 86400L + 1) * 86400L
      val early = (0 until 6).map(i =>
        otel("svc", "INFO", utcMidnight - 50000 + i, s"tzearly item $i"))
      val late = (0 until 3).map(i =>
        otel("svc", "INFO", utcMidnight + 1000 + i, s"tzlate item $i"))
      via.ingestBatch((early ++ late).toDF("value"))
      // all nine rows share ONE local-day partition that straddles the
      // UTC midnight
      assert(spark.read.parquet(via.tier1Path)
        .select("dt").distinct().count() == 1)
      // more rows requested than exist: the terminal full scan surfaces
      // all 9 (the UTC-day-start form returned only the 3 post-midnight)
      assert(via.tail(n = 100).count() == 9)
      val got = via.tail(n = 9).collect().map(_.toString).sorted
      val full = graft.streaming.IngestPipeline.tail(
          spark.read.parquet(via.tier1Path), 9, None)
        .collect().map(_.toString).sorted
      assert(got.sameElements(full), "tz-local tail diverged from full scan")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("tail breaks ties on one second by point_id, before and after compaction") {
    import spark.implicits._
    val via = new Via(spark, Files.createTempDirectory("via-tailtie").toString)
    // 500 rows in ONE second just before midnight, landed as five files of
    // a closed day (compaction rewrites it), and 10 newer rows in the open
    // day: tail(100) ends inside the tied second, and the 64 s probe
    // window holds both days
    val midnight = (now / 86400L + 1) * 86400L
    (0 until 5).foreach { b =>
      via.ingestBatch((0 until 100).map(i =>
        otel("svc", "INFO", midnight - 30, s"tied b$b i$i")).toDF("value"))
    }
    via.ingestBatch((0 until 10).map(i =>
      otel("svc", "INFO", midnight + 10 + i, s"newer $i")).toDF("value"))
    def fullSort(): Seq[String] =
      spark.read.parquet(via.tier1Path).collect().toSeq
        .sortBy(r => (-r.getAs[Long]("ts_sec"), r.getAs[String]("point_id")))
        .take(100).map(_.toString)
    def tail100(): Seq[String] = via.tail(n = 100).collect().map(_.toString).toSeq
    val expected = fullSort()
    assert(tail100() == expected, "tail diverged from the full sort")
    val stats = via.compactTier1()
    assert(stats.filesAfter < stats.filesBefore, stats.toString)
    assert(fullSort() == expected)
    assert(tail100() == expected, "tail diverged from the full sort after compaction")
  }

  test("tail over a store with a null-ts partition: probe stays exact") {
    import spark.implicits._
    val via = new Via(spark, Files.createTempDirectory("via-tailnull").toString)
    // 5 ingested rows + 3 EXTERNALLY-written rows with null ts_sec (the
    // ingest path itself drops timestamp-less records, so a
    // __HIVE_DEFAULT_PARTITION__ leaf can only come from an outside
    // writer): the undated leaf must not anchor the probe, and a request
    // larger than the timestamped row count must fall back to the full
    // scan that alone can pad from undated rows
    val dated = (0 until 5).map(i =>
      otel("svc", "INFO", now + i, s"dated event $i"))
    via.ingestBatch(dated.toDF("value"))
    import org.apache.spark.sql.functions.{col, lit, concat}
    spark.read.parquet(via.tier1Path).limit(3)
      .withColumn("ts_sec", lit(null).cast("long"))
      .withColumn("body", concat(lit("undated event "), col("point_id")))
      .withColumn("dt", graft.analysis.DtPrune.dtOf(col("ts_sec")))
      .write.mode("append").partitionBy("dt").parquet(via.tier1Path)
    // the newest 3 are all dated — served by the probe
    val top3 = via.tail(n = 3).collect()
    assert(top3.length == 3 && top3.forall(!_.isNullAt(
      top3.head.fieldIndex("ts_sec"))))
    // asking for more rows than are timestamped: full-scan fallback pads
    // with undated rows exactly like the plain form
    assert(via.tail(n = 8).count() ==
      graft.streaming.IngestPipeline.tail(
        spark.read.parquet(via.tier1Path), 8, None).count())
    assert(via.tail(n = 8).count() == 8)
  }
}
