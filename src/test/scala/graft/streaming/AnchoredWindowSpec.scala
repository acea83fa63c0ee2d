package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.analysis.RhythmAnalyzer
import org.apache.spark.sql.functions._

/** The zone-map-anchored analysis window (VERDICT r12 item 7): a 60 s
  * trigger over a compacted multi-file day must read only the files that
  * can hold window or baseline rows, with detect output IDENTICAL to the
  * full dt-pruned scan. */
class AnchoredWindowSpec extends SparkSpec {

  private val W = 1700000000L // analysis window start
  private val HistSample = 10000

  /** Tier-1 fixture: ~36k hot rows in the 3.3 h below the window (so the
    * first 1 h anchor probe already holds >= histSample baseline rows),
    * 5k cold rows ~11-14 h older in their own files, and a 6-row novel
    * burst inside the window. Written range-partitioned on ts so files
    * carry tight footer ranges. */
  private def writeFixture(tier1: String): Unit = {
    import spark.implicits._
    def rows(n: Int, ts: Long => Long, hash: String, body: String) =
      (0 until n).map(i => (hash + (i % 7), ts(i.toLong), 1000L + i))
        .toDF("rhythm_hash", "ts_sec", "event_id")
        .withColumn("service", lit("svc"))
        .withColumn("severity", lit("INFO"))
        .withColumn("body", lit(body))
        .withColumn("dt", graft.analysis.DtPrune.dtOf(col("ts_sec")))
    rows(36000, i => W - 1 - i / 3, "hot", "steady hum")
      .repartitionByRange(6, col("ts_sec"))
      .write.mode("append").partitionBy("dt").parquet(tier1)
    rows(5000, i => W - 40000 - i * 2, "cold", "old history")
      .repartitionByRange(4, col("ts_sec"))
      .write.mode("append").partitionBy("dt").parquet(tier1)
    (0 until 6).map(i => ("burst", W + 10 + i, 5000L + i))
      .toDF("rhythm_hash", "ts_sec", "event_id")
      .withColumn("service", lit("svc"))
      .withColumn("severity", lit("ERROR"))
      .withColumn("body", lit("novel burst event"))
      .withColumn("dt", graft.analysis.DtPrune.dtOf(col("ts_sec")))
      .write.mode("append").partitionBy("dt").parquet(tier1)
  }

  test("anchored window prunes cold files yet detect output is identical") {
    val tier1 = Files.createTempDirectory("anchor").toString + "/tier1"
    writeFixture(tier1)
    val nowSec = W + 60
    val lookback = RhythmAnalyzer.DefaultBaselineLookbackSec
    val full = AnalysisJob.tier1Window(spark, tier1, W - lookback, nowSec)
    val anchored = AnalysisJob.anchoredTier1(spark, tier1, W, nowSec,
      lookback, HistSample)
    // the anchor must actually exclude the cold files (the point of the
    // optimization) while keeping every hot/window file
    assert(anchored.inputFiles.length < full.inputFiles.length,
      s"anchor excluded nothing: ${anchored.inputFiles.length} files")
    // every window row survives
    assert(anchored.filter(col("ts_sec") >= W).count() ==
      full.filter(col("ts_sec") >= W).count())
    // detect over the anchored relation == detect over the full window
    def det(rel: org.apache.spark.sql.DataFrame) =
      RhythmAnalyzer.detect(rel, W, 60.0, histSample = HistSample,
          tieBreakCol = Some("event_id"))
        .collect().map(_.toString).sorted.toSeq
    assert(det(anchored) == det(full), "anchored detect diverged")
    // a sample larger than the store can prove coverage for falls back
    // to the full window (decline, never a wrong bound)
    val declined = AnalysisJob.anchoredTier1(spark, tier1, W, nowSec,
      lookback, histSample = 1000000)
    assert(declined.inputFiles.sorted.toSeq == full.inputFiles.sorted.toSeq)
  }

  test("runOnce end-to-end: anchor on == anchor off (clusters and Tier-2)") {
    val tier1 = Files.createTempDirectory("anchor2").toString + "/tier1"
    writeFixture(tier1)
    val nowSec = W + 60
    def runWith(anchor: Boolean): Seq[String] = {
      val work = Files.createTempDirectory(s"anchor2-$anchor").toString
      val rules = new graft.control.Rules(spark, s"$work/rules")
      val clusters = AnalysisJob.runCycle(spark, tier1, s"$work/tier2",
        rules, nowSec, windowSec = 60,
        RhythmAnalyzer.DefaultBaselineLookbackSec, None, anchored = anchor)
      val promoted = spark.read.parquet(s"$work/tier2")
        .drop("point_id").collect().map(_.toString).sorted.toSeq
      assert(clusters.count() > 0, "fixture promoted nothing")
      promoted
    }
    assert(runWith(anchor = true) == runWith(anchor = false),
      "anchored analysis cycle promoted different clusters")
  }
}
