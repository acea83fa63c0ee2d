package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.analysis.RhythmAnalyzer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Session-timezone property sweep (VERDICT r13 item 8).
  *
  * r13 fixed two real tz bugs by review (tail's terminal condition, the
  * NTZ DST fold); this spec makes the class CI-caught: tail, the anchored
  * analysis window, and promotion dt-pruning run under seeded-random
  * (writer zone, reader zone, window instant) combinations — east/west
  * extremes, northern/southern/half-hour/negative DST, window instants ON
  * a DST fold and near local midnights — and every result must equal a
  * zone-independent expectation computed from raw `ts_sec` with the `dt`
  * partition column ignored. */
class TzPropertySpec extends SparkSpec {

  private val Zones = Seq(
    "UTC",
    "Pacific/Kiritimati", // UTC+14, the east extreme of the 26 h bound
    "Etc/GMT+12", // UTC-12, the west extreme
    "America/Los_Angeles", // northern DST
    "America/Santiago", // southern DST
    "Australia/Lord_Howe", // half-hour DST shift
    "Europe/Dublin") // negative DST (standard time in summer)

  /** Window instants: a plain mid-day anchor plus instants inside real
    * 2026 DST transitions (computed from zone rules, not hardcoded
    * epochs). */
  private val WindowStarts: Seq[Long] = Seq(
    1700000000L - (1700000000L % 60),
    // LA fall-back fold: 01:30 local happens twice on 2026-11-01
    java.time.LocalDateTime.of(2026, 11, 1, 1, 30)
      .atZone(java.time.ZoneId.of("America/Los_Angeles")).toEpochSecond,
    // Lord Howe spring-forward gap morning (02:00 -> 02:30 on 2026-10-04)
    java.time.LocalDateTime.of(2026, 10, 4, 2, 45)
      .atZone(java.time.ZoneId.of("Australia/Lord_Howe")).toEpochSecond
  ).map(s => s - s % 60)

  private def withZone[T](zone: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  /** ~2 days of steady rows below W (crossing several local midnights and
    * any DST transition near W) plus a novel burst inside [W, W+60),
    * written day-partitioned UNDER THE WRITER ZONE. */
  private def writeFixture(tier1: String, w: Long): Unit = {
    import spark.implicits._
    val steady = (0 until 1800).map(i =>
      ("hum" + (i % 5), w - 1 - i * 97L, 1000L + i))
    val burst = (0 until 5).map(i => ("burst", w + 10 + i, 9000L + i))
    (steady ++ burst).toDF("rhythm_hash", "ts_sec", "event_id")
      .withColumn("point_id", concat(lit("p"), col("event_id")))
      .withColumn("service", lit("svc"))
      .withColumn("severity", lit("INFO"))
      .withColumn("body", lit("tz property fixture row"))
      .withColumn("dt", graft.analysis.DtPrune.dtOf(col("ts_sec")))
      .repartitionByRange(4, col("ts_sec"))
      .write.mode("overwrite").partitionBy("dt").parquet(tier1)
  }

  /** Zone-independent expectation: the same relation with `dt` ignored —
    * any divergence means dt-pruning dropped or duplicated rows. */
  private def rawRead(tier1: String): DataFrame =
    spark.read.parquet(tier1).drop("dt")

  private def det(rel: DataFrame, w: Long): Seq[String] =
    RhythmAnalyzer.detect(rel, w, 60.0, histSample = 300,
      tieBreakCol = Some("event_id")).collect().map(_.toString).sorted.toSeq

  test("analysis window, tail, and promotion are exact under random zones") {
    val rnd = new scala.util.Random(14)
    val lookback = 6 * 3600L
    for (iter <- 0 until 5) {
      val zw = Zones(rnd.nextInt(Zones.length))
      val zr = Zones(rnd.nextInt(Zones.length))
      val w = WindowStarts(rnd.nextInt(WindowStarts.length))
      val clue = s"iter=$iter write=$zw read=$zr w=$w"
      val dir = Files.createTempDirectory(s"tzprop$iter").toString
      // the fixture lives at a Via warehouse's own tier1 path so the
      // tail leg can drive the production zone-map-probed verb
      val tier1 = s"$dir/wh/tier1"
      withZone(zw) { writeFixture(tier1, w) }

      // --- analysis: full dt-pruned window and the zone-map-anchored
      // window must both equal the dt-ignorant detect, in the writer's
      // zone AND in a divergent reader zone (names carry zw; the ±2-day
      // slack must absorb the offset)
      for (zone <- Seq(zw, zr)) withZone(zone) {
        val expected = det(rawRead(tier1), w)
        assert(expected.nonEmpty, s"fixture produced no detections ($clue)")
        val full = det(AnalysisJob.tier1Window(spark, tier1,
          w - lookback, w + 60), w)
        assert(full == expected, s"tier1Window diverged ($clue zone=$zone)")
        val anchored = det(AnalysisJob.anchoredTier1(spark, tier1, w,
          w + 60, lookback, histSample = 300), w)
        assert(anchored == expected,
          s"anchoredTier1 diverged ($clue zone=$zone)")
      }

      // --- tail under the reader zone vs the dt-ignorant reference form
      withZone(zr) {
        val via = new graft.api.Via(spark, s"$dir/wh")
        val got = via.tail(n = 9).drop("dt")
          .collect().map(_.toString).sorted.toSeq
        val want = IngestPipeline.tail(rawRead(tier1), 9)
          .collect().map(_.toString).sorted.toSeq
        assert(got == want, s"tail diverged ($clue)")
      }

      // --- promotion dt-pruning: rollup rows under the reader zone ==
      // rollup rows under UTC on the zone-independent columns (dt itself
      // legitimately differs by zone)
      def promoted(zone: String, out: String): Seq[String] = withZone(zone) {
        val anoms = spark.range(1).select(
          lit("burst").as("rhythm_hash"), lit("novelty").as("anomaly_type"),
          lit(5L).as("n"), lit(0.1).as("baseline_mean"),
          lit(w).as("window_start"))
        PromotionStream.promoteBatchIdempotent(spark, anoms, 0L, tier1, out,
          rules = None, windowSec = 60)
        spark.read.parquet(out)
          .select("rhythm_hash", "anomaly_type", "count", "start_ts",
            "end_ts", "body")
          .collect().map(_.toString).sorted.toSeq
      }
      val underReader = promoted(zr, s"$dir/t2a")
      val underUtc = promoted("UTC", s"$dir/t2b")
      assert(underReader.nonEmpty, s"promotion emitted nothing ($clue)")
      assert(underReader == underUtc, s"promotion diverged ($clue)")
    }
  }
}
