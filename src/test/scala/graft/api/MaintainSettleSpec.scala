package graft.api

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `maintainIndexes` weighs Tier-1 fragmentation by the files
  * `compactTier1` can actually rewrite. Files in the open (newest) `dt`
  * leaf, which compaction skips by design, must not trigger a
  * compaction that cannot touch them — before, such a store reported
  * `compact … N -> N` on every sweep and never settled. */
class MaintainSettleSpec extends SparkSpec {

  private val Day = 86400L
  private val Base = 1700000000L

  /** Append `files` one-row parquet files into the `dt` leaf of `ts`. */
  private def appendFiles(via: Via, ts: Long, files: Int): Unit = {
    import spark.implicits._
    (0 until files).foreach { i =>
      Seq((s"h$i", ts + i, s"evt $i")).toDF("rhythm_hash", "ts_sec", "body")
        .withColumn("dt", graft.analysis.DtPrune.dtOf(col("ts_sec")))
        .coalesce(1)
        .write.mode("append").partitionBy("dt").parquet(via.tier1Path)
    }
  }

  private def tier1(acts: Seq[Via.Maintenance]): Via.Maintenance =
    acts.find(_.target == "tier1").get

  test("small files only in Tier-1's open leaf trigger no compaction") {
    val via = new Via(spark, Files.createTempDirectory("settle-open").toString)
    appendFiles(via, Base, files = 1) // a closed day, already compact
    appendFiles(via, Base + 2 * Day, files = 5) // the open day
    val act = tier1(via.maintainIndexes(smallFileThreshold = 2))
    assert(act.action == "none", act.toString)
    assert(act.detail == "1 files", act.toString)
  }

  test("small files in a closed Tier-1 leaf compact, then the sweep settles") {
    val via = new Via(spark, Files.createTempDirectory("settle-closed").toString)
    appendFiles(via, Base, files = 5) // a fragmented closed day
    appendFiles(via, Base + 2 * Day, files = 1) // the open day
    val rowsBefore = spark.read.parquet(via.tier1Path).count()
    val act = tier1(via.maintainIndexes(smallFileThreshold = 2))
    assert(act.action == "compact", act.toString)
    val Counts = ".*: (\\d+) -> (\\d+)".r
    val Counts(before, after) = act.detail
    assert(before.toLong == 5L && after.toLong < before.toLong, act.toString)
    assert(spark.read.parquet(via.tier1Path).count() == rowsBefore)
    assert(tier1(via.maintainIndexes(smallFileThreshold = 2)).action == "none")
  }
}
