package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** A5 hardening — whole-operator top-k-per-group as a custom Catalyst
  * operator (SURVEY §4 "group-by pushdown into the index" stretch goal):
  * logical node + planner strategy + physical exec, registered through
  * `GraftExtensions` / `spark.experimental.extraStrategies`.
  *
  * Why not window/row_number or max_by? The window form sorts every
  * partition; the max_by form only handles k=1 and builds struct agg
  * buffers. This operator keeps a bounded k-row buffer per group per
  * partition — O(n·log k) with no sort and no struct churn — which is the
  * shape Qdrant's `search_groups(group_size=k)` wants at warehouse scale.
  *
  * Semantics: for each distinct value of `groupExprs`, emit the first k
  * rows of the group under `ordering` (ties broken by the ordering
  * itself — give it a total order for deterministic output). Output rows
  * are unordered across groups (append a final orderBy for presentation).
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  /** Max distinct groups held in the hash exec's in-memory map per
    * partition before it spills a key-sorted run to disk (see the exec's
    * memory contract). */
  val GroupBudgetKey = "spark.graft.topKPerGroup.groupBudget"
  val DefaultGroupBudget = 65536

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(group, order, k, child) =>
      val budget = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.conf.get(GroupBudgetKey, DefaultGroupBudget.toString).toInt)
        .getOrElse(DefaultGroupBudget)
      TopKPerGroupExec(group, order, k, planLater(child), budget) :: Nil
    case _ => Nil
  }
}

/** MEMORY CONTRACT: the exec holds at most
  * k · min(|distinct groups in the partition|, groupBudget) row copies
  * plus one UnsafeRow key per held group — NEVER proportional to input
  * rows, and since round 4 never proportional to group cardinality
  * either: when the map exceeds `groupBudget` groups it is flushed to
  * disk as a run sorted by group-key bytes, and the partition output is a
  * streaming merge of all runs (exact, because per-span top-k's merge to
  * the span-union's top-k — top-k is a semigroup). */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    groupBudget: Int = TopKPerGroupStrategy.DefaultGroupBudget) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "spillBytes" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "spillCount" -> SQLMetrics.createMetric(sparkContext, "number of spilled runs"))

  /** All rows of one group must land in one partition (the shuffle the
    * planner inserts here is the operator's only exchange). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    import TopKPerGroupExec.insert
    val groupE = groupExprs
    val orderE = ordering
    val limit = k
    val childOutput = child.output
    val budget = groupBudget
    val spillBytes = longMetric("spillBytes")
    val spillCount = longMetric("spillCount")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      val ord = RowOrdering.create(orderE, childOutput)
      import scala.jdk.CollectionConverters._
      // group key -> k best rows; map bounded at `budget` DISTINCT
      // groups — past it, the map is flushed as a key-sorted disk run
      // and the output becomes a streaming merge of runs + the final map
      // (see the class-level memory contract)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val spills = new java.util.ArrayList[java.io.File]()
      val buffers = new java.util.HashMap[UnsafeRow, java.util.ArrayList[InternalRow]]()

      def spillRun(): Unit = {
        val entries = buffers.entrySet().asScala.toArray
          .sortWith((a, b) => java.util.Arrays.compareUnsigned(
            a.getKey.getBytes, b.getKey.getBytes) < 0)
        // spill under spark.local.dir (DiskBlockManager), never /tmp
        val f = org.apache.spark.graftbridge.SpillFiles.create("graft-topk-spill")
        val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(f), 1 << 16))
        try entries.foreach { e =>
          val kb = e.getKey.getBytes
          out.writeInt(kb.length); out.write(kb)
          out.writeInt(e.getValue.size())
          e.getValue.asScala.foreach { r =>
            val bytes = toUnsafe(r).getBytes
            out.writeInt(bytes.length); out.write(bytes)
          }
        } finally out.close()
        spillBytes.add(f.length())
        spillCount.add(1)
        spills.add(f)
        buffers.clear()
      }

      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => spills.asScala.foreach(_.delete())))

      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var buf = buffers.get(key)
        if (buf == null) {
          if (buffers.size() >= budget) spillRun()
          buf = new java.util.ArrayList[InternalRow](limit)
          buffers.put(key.copy(), buf)
        }
        insert(buf, row, ord, limit)
      }

      if (spills.isEmpty) {
        buffers.values().asScala.iterator.flatMap(_.asScala)
      } else {
        spillRun() // flush the tail so everything merges uniformly
        TopKPerGroupExec.mergeRuns(
          spills.asScala.toSeq, childOutput.length, ord, limit)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupExec {

  /** One key-sorted spill run: a stream of (keyBytes, ≤k rows) records.
    * Keys are UnsafeRow bytes — byte equality IS value equality for rows
    * from one projection, so ANY consistent byte order (we use unsigned
    * lexicographic) makes equal keys adjacent across runs; the order
    * carries no semantic meaning and needs none. */
  private final class RunReader(f: java.io.File, numFields: Int) {
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16))
    var curKey: Array[Byte] = _
    val curRows = new java.util.ArrayList[InternalRow]()
    def advance(): Boolean = {
      curRows.clear()
      val klen =
        try in.readInt()
        catch { case _: java.io.EOFException => in.close(); return false }
      curKey = new Array[Byte](klen); in.readFully(curKey)
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val b = new Array[Byte](len); in.readFully(b)
        val r = new UnsafeRow(numFields)
        r.pointTo(b, len)
        curRows.add(r)
        i += 1
      }
      true
    }
  }

  /** Streaming merge of key-sorted runs: per group, the ≤k-row partial
    * buffers from each run insert-merge into one exact top-k (top-k over
    * a union == top-k of the per-span top-k's). Memory: one record per
    * run + one k-row output buffer. */
  private def mergeRuns(files: Seq[java.io.File], numFields: Int,
      ord: Ordering[InternalRow], limit: Int): Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    val pq = new java.util.PriorityQueue[RunReader](
      math.max(1, files.size),
      (a: RunReader, b: RunReader) =>
        java.util.Arrays.compareUnsigned(a.curKey, b.curKey))
    files.foreach { f => val r = new RunReader(f, numFields); if (r.advance()) pq.add(r) }
    new Iterator[InternalRow] {
      private var out: Iterator[InternalRow] = Iterator.empty
      private def loadNextGroup(): Unit = {
        while (!out.hasNext && !pq.isEmpty) {
          val first = pq.poll()
          val key = first.curKey
          val merged = new java.util.ArrayList[InternalRow](limit)
          first.curRows.asScala.foreach(insert(merged, _, ord, limit))
          if (first.advance()) pq.add(first)
          while (!pq.isEmpty && java.util.Arrays.equals(pq.peek().curKey, key)) {
            val r = pq.poll()
            r.curRows.asScala.foreach(insert(merged, _, ord, limit))
            if (r.advance()) pq.add(r)
          }
          out = merged.asScala.iterator
        }
      }
      override def hasNext: Boolean = { loadNextGroup(); out.hasNext }
      override def next(): InternalRow = { loadNextGroup(); out.next() }
    }
  }

  /** Insert `row` into the bounded best-k buffer (ascending by `ord`).
    * Static so task closures don't capture the exec node. */
  private def insert(buf: java.util.ArrayList[InternalRow], row: InternalRow,
      ord: Ordering[InternalRow], limit: Int): Unit = {
    if (buf.size() < limit || ord.compare(row, buf.get(buf.size() - 1)) < 0) {
      val copy = row.copy()
      var i = buf.size()
      if (buf.size() == limit) { buf.remove(limit - 1); i = limit - 1 }
      while (i > 0 && ord.compare(copy, buf.get(i - 1)) < 0) i -= 1
      buf.add(i, copy)
    }
  }
}

object TopKPerGroup {

  /** DataFrame API: top `k` rows per group of `groupCols`, best-first
    * under `orderCols` (`(name, ascending)`). Attributes are resolved
    * against the child's analyzed output up front, so the custom node
    * enters planning fully resolved. */
  def apply(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    // make the strategy available even without the extensions config
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    }
    val child = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' in ${child.output.map(_.name).mkString(", ")}"))
    val sortOrders = orderCols.map { case (n, asc) =>
      SortOrder(attr(n),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark,
      TopKPerGroupNode(groupCols.map(attr), sortOrders, k, child))
  }
}
