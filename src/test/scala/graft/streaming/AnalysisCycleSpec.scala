package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.api.Via
import org.apache.spark.sql.functions._

/** One analysis cycle's resources: the baseline sample it caches is
  * released when the cycle ends, and the rows it returns are exactly the
  * rows it appended to Tier-2. */
class AnalysisCycleSpec extends SparkSpec {

  private val T0 = 1700000000L

  /** Tier-1: a steady template every 5 s for 20 min, and a novel burst
    * of 6 logs in each of the three minutes after it. */
  private def warehouse(): Via = {
    import spark.implicits._
    val via = new Via(spark, Files.createTempDirectory("cycle").toString)
    val steady = (0L until 1200L by 5L).map(i => ("steady", T0 - 1200 + i, s"tick $i"))
    val bursts = (0 until 3).flatMap(w => (0 until 6).map(i =>
      (s"burst$w", T0 + w * 60L + 10 + i, s"novel failure $w item $i")))
    (steady ++ bursts).toDF("rhythm_hash", "ts_sec", "body")
      .withColumn("service", lit("svc"))
      .withColumn("severity", lit("ERROR"))
      .withColumn("dt", graft.analysis.DtPrune.dtOf(col("ts_sec")))
      .write.partitionBy("dt").parquet(via.tier1Path)
    via
  }

  /** Plans registered with the session's CacheManager (its list is
    * private; the count is the leak signal). */
  private def cachedPlans: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[_]].size
  }

  test("analysis cycles leave no cached plan or persisted RDD behind") {
    val via = warehouse()
    val sc = spark.sparkContext
    val plansBefore = cachedPlans
    val rddsBefore = sc.getPersistentRDDs.size
    val promoted = (0 until 3).map(w => via.analyzeOnce(T0 + (w + 1) * 60L).count())
    assert(promoted.forall(_ > 0), s"every cycle should promote: $promoted")
    assert(cachedPlans <= plansBefore)
    assert(sc.getPersistentRDDs.size <= rddsBefore)
  }

  test("runOnce returns exactly the rows it appended to Tier-2") {
    val via = warehouse()
    val first = via.analyzeOnce(T0 + 60L) // creates the store
    def stored(): Seq[String] =
      spark.read.parquet(via.tier2Path).select(first.columns.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    val before = stored()
    val out = via.analyzeOnce(T0 + 120L)
    val returned = out.collect().map(_.toString).toSeq.sorted
    assert(returned.nonEmpty)
    assert(stored().diff(before) == returned)
    // the returned frame is the cycle's one materialization, not a plan
    // that re-runs detection when read again
    assert(out.collect().map(_.toString).toSeq.sorted == returned)
  }
}
