package graft.search

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, input_file_name, struct}

/** A pinned Tier-2 store held on the driver: the serving projection of
  * every row ([[ClusterSearch.Cand]]'s fields, `dense` decoded as
  * primitive float arrays), without the `sample_logs`, `sparse_*` and
  * `entity_type` columns no serving verb reads. `Via.pinServing` builds
  * one, and `ClusterSearch.clustersSnapshot` / `triageSnapshot` rank
  * over it with no Spark job. Immutable: a refresh builds a new
  * snapshot.
  *
  * Rows are held per data file, in file-list order. Parquet files are
  * immutable once committed (appends add files, compaction swaps in new
  * names), so a refresh re-reads only the files the previous snapshot
  * did not hold and shares the rest — a promotion window's refresh
  * collects that window's few rows, not the whole store. */
final class ServingSnapshot private (
    private val segments: Vector[(ServingSnapshot.FileKey, IndexedSeq[ClusterSearch.Cand])]) {
  private[search] val rows: IndexedSeq[ClusterSearch.Cand] = segments.flatMap(_._2)
}

object ServingSnapshot {

  /** A committed data file: path URI, length, modification time. */
  private type FileKey = (String, Long, Long)
  private def keyOf(f: FileStatus): FileKey =
    (f.getPath.toUri.toString, f.getLen, f.getModificationTime)

  /** The snapshot of `files`: rows of files `previous` holds are shared,
    * the others are collected through `read` (one Spark job; none when
    * every file is held). */
  def collect(files: Seq[FileStatus], read: Seq[FileStatus] => DataFrame,
      previous: Option[ServingSnapshot]): ServingSnapshot = {
    val held = previous.fold(Map.empty[FileKey, IndexedSeq[ClusterSearch.Cand]])(
      _.segments.toMap)
    val fresh = files.filterNot(f => held.contains(keyOf(f)))
    val collected =
      if (fresh.isEmpty) Map.empty[String, Array[ClusterSearch.Cand]]
      else collectByFile(read(fresh))
    val unknown = collected.keySet -- fresh.map(keyOf(_)._1)
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"rows from files outside the listing: ${unknown.mkString(", ")}")
    new ServingSnapshot(files.toVector.map { f =>
      val k = keyOf(f)
      k -> held.getOrElse(k, collected.get(k._1).fold(
        IndexedSeq.empty[ClusterSearch.Cand])(_.toVector))
    })
  }

  /** The serving projection of `tier2`, grouped by source file URI (the
    * form `input_file_name` reports), each file's rows in scan order. */
  private def collectByFile(tier2: DataFrame): Map[String, Array[ClusterSearch.Cand]] = {
    import tier2.sparkSession.implicits._
    tier2.select(
        struct(
          col("rhythm_hash").as("hash"), col("anomaly_type").as("aType"),
          col("anomaly_context").as("aCtx"), col("start_ts").as("startTs"),
          col("end_ts").as("endTs"), col("count"), col("service"),
          col("severity"), col("body"),
          // a partition-inferred date; the graph payload carries the same
          // yyyy-MM-dd string, and both order the same way
          col("dt").cast("string").as("dt"), col("dense")).as("_1"),
        input_file_name().as("_2"))
      .as[(ClusterSearch.Cand, String)].collect()
      .groupMap(_._2)(_._1)
  }
}
