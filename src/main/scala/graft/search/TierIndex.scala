package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Maps the Tier-2 forensic store onto the [[GraphIndex]] — the bridge
  * that lets the serving verbs (`Via.clusters` / `Via.triage`) probe the
  * engine's best-recall ANN leg instead of exact-scanning Tier-2, the
  * way the reference serves EVERY Tier-2 query through Qdrant's HNSW
  * (`/root/reference/app/services/qdrant_service.py:73-95`,
  * `app/services/forensic_analysis_service.py:30-53`).
  *
  * Design: the graph is keyed by a 64-bit ROW key (a Tier-2 row is one
  * promoted (hash, window) cluster — `xxhash64` of its identity
  * columns) and carries each row's serving projection as its payload,
  * so a probe hit IS the row; `ClusterSearch`'s driver ranker re-scores
  * hits with the exact verbs' kernels — the graph only ever influences
  * WHICH rows are candidates, never how they score or order.
  *
  * Freshness: [[appendBatch]] is wired into the streaming promotion sink
  * per committed micro-batch (idempotent — replay-safe via the batch_id
  * leaf), landing fresh clusters in the graph's exact-scored buffer;
  * `GraphIndex.rebuild` (driven by `Via.maintainIndexes`) periodically
  * folds the buffer into the sub-graphs.
  */
object TierIndex {

  /** Stable identity key of a Tier-2 cluster row. `(rhythm_hash,
    * anomaly_type, start_ts)` is the rollup's grain: one row per
    * (hash, type) per analysis window, windows distinguished by their
    * min event ts. */
  def rowKey: Column =
    xxhash64(col("rhythm_hash"), col("anomaly_type"), col("start_ts"))

  /** The Tier-2 columns the serving verbs consume, carried into the
    * graph as the node payload (every field string/long, so the JSON
    * round-trip is value-exact; `dense` rides separately as the node
    * embedding, `sample_logs`/`sparse_*` stay Tier-2-only — no serving
    * verb projects them). */
  val PayloadFields: Seq[String] = Seq("rhythm_hash", "anomaly_type",
    "anomaly_context", "start_ts", "end_ts", "count", "service",
    "severity", "body", "dt")

  /** Graph node rows for a Tier-2 relation (or one freshly promoted
    * micro-batch): (vec_id, label, embedding, payload). The label slot
    * is unused; the payload is the serving projection of the row itself
    * (Qdrant's point-payload model), so a probe hit IS the row — no
    * corpus rejoin to recover it. */
  def nodes(tier2: DataFrame): DataFrame =
    tier2.select(rowKey.as("vec_id"), lit(0).as("label"),
      col("dense").cast("array<double>").as("embedding"),
      to_json(struct(PayloadFields.map(col): _*)).as("payload"))

  /** Bulk-build the serving graph over the current Tier-2 store.
    * `numParts` sizes the sub-graphs (corpus/heap at scale; more parts
    * also parallelize the build). */
  def build(tier2: DataFrame, path: String,
      numParts: Int = GraphIndex.NumParts): Unit =
    GraphIndex.build(nodes(tier2), path, numParts)

  /** Idempotent per-micro-batch append of freshly promoted clusters
    * (the streaming-maintenance write; see [[GraphIndex.appendBatch]]). */
  def appendBatch(promoted: DataFrame, path: String, batchId: Long): Unit =
    GraphIndex.appendBatch(nodes(promoted), path, batchId)

  /** Plain buffer append for the BATCH promotion path
    * ([[graft.streaming.AnalysisJob.runOnce]]) — same at-most-once
    * semantics as that path's Tier-2 append itself (no replay protocol
    * to be idempotent against). */
  def append(promoted: DataFrame, path: String): Unit =
    GraphIndex.append(nodes(promoted), path)
}
