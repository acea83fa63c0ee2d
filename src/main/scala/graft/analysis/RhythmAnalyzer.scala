package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rhythm anomaly detection — the Tier-1 analysis core.
  *
  * Reference semantics (app/services/rhythm_analysis_service.py:32-108):
  *  - recent window: points with `ts_sec >= windowStart`, counted per hash;
  *  - historical baseline: the `histSample` most recent points *older* than
  *    the window (ties broken by `event_id` — the reference is scroll-order
  *    dependent, we declare a total order);
  *  - per-hash baseline mean normalized by sample time-span:
  *    `mean = hist_n * (windowSec / (max(ts)-min(ts)))`;
  *  - `std = max(stdFloor, sqrt(mean))`;
  *  - novelty: hash unseen in baseline, recent count >= noveltyMinCount;
  *  - frequency: recent count > mean + freqSigma*std and >= freqMinCount.
  *
  * Plan shape at scale: both windows are partial-aggregated groupBys (one
  * shuffle of per-hash counts each); the baseline sample is a distributed
  * top-k (TakeOrderedAndProject — each task keeps 10k rows, merge at the
  * driver scale is k, not data); the classify step joins per-hash count
  * tables, which are tiny relative to the input and auto-broadcast by AQE.
  */
object RhythmAnalyzer {

  /** Declared baseline look-back horizon: the 10k-point sample is the most
    * RECENT history, so at any realistic ingest rate it sits well inside
    * 30 days — bounding the scan changes nothing semantically while turning
    * an all-history read into a constant-size one (with [[DtPrune]] at the
    * caller it prunes to ≤31 day-partitions). The reference gets the same
    * bound for free from Qdrant's index-ordered scroll
    * (`rhythm_analysis_service.py:74`, `qdrant_service.py:147-157`). */
  val DefaultBaselineLookbackSec: Long = 30L * 86400

  /** Baseline sample size (the reference's 10k-point scroll,
    * `rhythm_analysis_service.py:74`) — shared with the anchored-window
    * probe so its coverage check matches what [[detect]] samples. */
  val DefaultHistSample: Int = 10000

  /** @param ev columns: rhythm_hash STRING, ts_sec LONG (+ optional
    *        tie-break column for a fully deterministic baseline sample)
    * @param baselineLookbackSec bound on how far before `windowStart` the
    *        baseline sample may reach (see [[DefaultBaselineLookbackSec]])
    * @param baseSample the [[baselineSample]] of `ev` with the same
    *        bounds, materialized by a caller that owns its release (the
    *        analysis cycle unpersists it when the cycle ends); when
    *        absent, detect caches its own and nothing releases it
    * @return rhythm_hash, anomaly_type ('novelty'|'frequency'), n,
    *         baseline_mean (null for novelty)
    */
  def detect(
      ev: DataFrame,
      windowStart: Long,
      windowSec: Double,
      histSample: Int = DefaultHistSample,
      noveltyMinCount: Int = 2,
      freqMinCount: Int = 3,
      freqSigma: Double = 2.5,
      stdFloor: Double = 1.5,
      tieBreakCol: Option[String] = None,
      baselineLookbackSec: Long = DefaultBaselineLookbackSec,
      baseSample: Option[DataFrame] = None): DataFrame = {
    import ev.sparkSession.implicits._

    val recent = ev.filter($"ts_sec" >= windowStart)
      .groupBy($"rhythm_hash").agg(count(lit(1)).as("n"))

    // two consumers (span + per-hash counts); sample is <=10k rows
    val base = baseSample.getOrElse(baselineSample(ev, windowStart,
      histSample, tieBreakCol, baselineLookbackSec).cache())

    // reference guards (rhythm_analysis_service.py:42-46): <2 baseline
    // points → NO stats (every recent hash classifies as novelty), and the
    // sample span is floored at 1 s — otherwise a single-epoch-second
    // sample divides by zero (ANSI mode: DIVIDE_BY_ZERO kills the cycle)
    val span = base.agg(
      greatest((max($"ts_sec") - min($"ts_sec")).cast("double"), lit(1.0))
        .as("dur"),
      count(lit(1)).as("base_n"))

    val stats = base.groupBy($"rhythm_hash")
      .agg(count(lit(1)).as("hist_n"))
      .crossJoin(broadcast(span))
      .filter($"base_n" >= 2)
      .select($"rhythm_hash",
        ($"hist_n" * (lit(windowSec) / $"dur")).as("mean"))
      .withColumn("std", greatest(lit(stdFloor), sqrt($"mean")))

    val novelty = recent
      .join(stats, Seq("rhythm_hash"), "left_anti")
      .filter($"n" >= noveltyMinCount)
      .select($"rhythm_hash", lit("novelty").as("anomaly_type"), $"n",
        lit(null).cast("double").as("baseline_mean"))

    val frequency = recent
      .join(stats, Seq("rhythm_hash"))
      .filter($"n" > $"mean" + lit(freqSigma) * $"std" && $"n" >= freqMinCount)
      .select($"rhythm_hash", lit("frequency").as("anomaly_type"), $"n",
        round($"mean", 4).as("baseline_mean"))

    novelty.unionByName(frequency)
  }

  /** [[detect]]'s historical baseline: the `histSample` most recent rows
    * of `ev` older than `windowStart` and within the look-back bound,
    * newest first (uncached). */
  def baselineSample(
      ev: DataFrame,
      windowStart: Long,
      histSample: Int = DefaultHistSample,
      tieBreakCol: Option[String] = None,
      baselineLookbackSec: Long = DefaultBaselineLookbackSec): DataFrame = {
    import ev.sparkSession.implicits._
    val baseOrder = $"ts_sec".desc +: tieBreakCol.map(col(_).desc).toSeq
    ev.filter($"ts_sec" < windowStart &&
        $"ts_sec" >= windowStart - baselineLookbackSec)
      .orderBy(baseOrder: _*)
      .limit(histSample)
  }
}
