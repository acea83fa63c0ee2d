package graft.search

import graft.GraftFunctions
import graft.control.Rules
import graft.functions.TextFunctions.matchText
import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Tier-2 query surface: grouped cluster search and triage recommend.
  *
  * Reference (`/root/reference/app/services/forensic_analysis_service.py`):
  *  - clusters (`:17-74`): optional ts-range + full-text filter; query
  *    vector = embedded filter text, or zero vector when absent (`:25-29`);
  *    `search_groups(group_by=rhythm_hash, group_size=1, limit=100)` per
  *    daily collection (`:45-53`), federated merge-sort (`:55-62`),
  *    suppression/patch anti-filter (`:63-65`).
  *  - triage (`:75-96`): Qdrant `recommend` with positive/negative example
  *    ids, `avg(pos) + (avg(pos) - avg(neg))` query vector, top-50.
  *
  * Spark: federation ≡ `dt` partition pruning (the ts-range predicate on a
  * day-partitioned table IS the daily-collection enumeration); grouped
  * search ≡ window top-1-per-hash then top-k — one Catalyst plan, two
  * shuffles. Zero-vector searches score 0.0 with recency tie-break
  * (declared semantics, SURVEY §7.5.3).
  */
object ClusterSearch {

  val GroupLimit = 100
  val TriageLimit = 50

  /** A5/A6/V1/V6/P7/P8/J3/J4 — grouped cluster search over Tier-2. */
  def clusters(
      tier2: DataFrame,
      rules: Option[Rules],
      nowSec: Long,
      startTs: Option[Long] = None,
      endTs: Option[Long] = None,
      textFilter: Option[String] = None,
      limit: Int = GroupLimit): DataFrame =
    clustersPipeline(tier2, rules, nowSec, startTs, endTs, textFilter, limit)

  /** The exact clusters pipeline over a Tier-2-shaped relation — the
    * exact verb and the graph verb's shortfall fallback (rel = whole
    * store), and the reference the graph verb's driver ranker is
    * parity-pinned against (TierServeSpec). */
  private def clustersPipeline(
      rel: DataFrame,
      rules: Option[Rules],
      nowSec: Long,
      startTs: Option[Long],
      endTs: Option[Long],
      textFilter: Option[String],
      limit: Int): DataFrame = {
    GraftFunctions.register(rel.sparkSession)
    val ranged = rel
      .filter(startTs.map(col("start_ts") >= _).getOrElse(lit(true)))
      .filter(endTs.map(col("start_ts") <= _).getOrElse(lit(true)))
    val filtered = textFilter.fold(ranged)(f => ranged.filter(matchText(col("body"), f)))
    val scored = textFilter match {
      case Some(f) =>
        filtered.withColumn("score",
          round(cosine(col("dense"), GraftFunctions.embedText(lit(f))), 6))
      case None => filtered.withColumn("score", lit(0.0))
    }
    val ruled = rules.fold(scored)(_.enforce(scored, nowSec))
    // best hit per rhythm-hash group via the custom bounded-buffer
    // operator (graft.plans.TopKPerGroup) — no per-partition sort, one
    // clustering exchange; ≡ Window row_number()=1 with this ordering
    graft.plans.TopKPerGroup(ruled, Seq("rhythm_hash"),
      Seq(("score", false), ("start_ts", false), ("dt", true)), 1)
      .orderBy(col("score").desc, col("start_ts").desc, col("rhythm_hash"))
      .limit(limit)
      .select("rhythm_hash", "anomaly_type", "anomaly_context", "service",
        "severity", "body", "count", "start_ts", "end_ts", "score")
  }

  /** V3/A7 — triage: recommend by positive/negative cluster examples.
    * The query vector is computed by [[exampleVectorFast]] (two small
    * jobs, 3-node plans) and ranked against as ONE array literal: the
    * previous single-plan form broadcast a 384-lane `avgVector`
    * aggregate whose per-call Catalyst planning measured ~1 s — more
    * than the entire scan at serving stores (ServeBench r10). Value
    * parity with the aggregate form is spec-pinned (TriageParitySpec);
    * the degenerate no-matching-example edge keeps the aggregate form's
    * NULL-propagation semantics verbatim. */
  def triage(
      tier2: DataFrame,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String],
      limit: Int = TriageLimit): DataFrame = {
    import tier2.sparkSession.implicits._
    exampleVectorFast(tier2, positiveHashes, negativeHashes) match {
      case Some(qv) =>
        triageRank(tier2, typedLit(qv), positiveHashes ++ negativeHashes,
          limit)
      case None =>
        triageViaAggregate(tier2, positiveHashes, negativeHashes, limit)
    }
  }

  /** The single-plan aggregate-form triage — the degenerate-edge
    * implementation and the parity REFERENCE the fast form is spec-pinned
    * against (TierServeSpec). */
  private[graft] def triageViaAggregate(
      tier2: DataFrame,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String],
      limit: Int = TriageLimit): DataFrame = {
    import tier2.sparkSession.implicits._
    val q = exampleVector(tier2, positiveHashes, negativeHashes)
    triageRank(tier2.crossJoin(broadcast(q)), $"qv",
      positiveHashes ++ negativeHashes, limit)
  }

  /** The `avg(pos) + (avg(pos) - avg(neg))` recommend vector as a 1-row
    * relation (column `qv`). Both example averages fold in ONE tier2
    * scan (avg ignores the NULLs the `when` leaves on the other side) —
    * a serving call pays two jobs (broadcast + main scan), not three;
    * ServeBench showed the per-job floor, not the math, dominates triage
    * latency. */
  private def exampleVector(
      tier2: DataFrame,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String]): DataFrame = {
    import tier2.sparkSession.implicits._
    val dim = graft.functions.EmbedText.Dim
    import graft.functions.VectorFunctions.avgVector
    if (negativeHashes.isEmpty)
      tier2.filter($"rhythm_hash".isin(positiveHashes: _*))
        .agg(avgVector($"dense", dim).as("qv"))
    else tier2
      .filter($"rhythm_hash".isin(positiveHashes ++ negativeHashes: _*))
      .agg(
        avgVector(when($"rhythm_hash".isin(positiveHashes: _*), $"dense"),
          dim).as("pv"),
        avgVector(when($"rhythm_hash".isin(negativeHashes: _*), $"dense"),
          dim).as("nv"))
      .select(zip_with($"pv", $"nv", (p, n) => p * 2.0 - n).as("qv"))
  }

  /** The exact triage rank/score/project stage over a Tier-2-shaped
    * relation carrying the query vector as `qvCol` — the exact verb's
    * two forms (collected qv, broadcast aggregate qv) share it. */
  private def triageRank(rel: DataFrame, qvCol: org.apache.spark.sql.Column,
      excludeHashes: Seq[String], limit: Int): DataFrame =
    rel.filter(!col("rhythm_hash").isin(excludeHashes: _*))
      .withColumn("score", round(cosine(col("dense"), qvCol), 6))
      .orderBy(col("score").desc, col("rhythm_hash"))
      .limit(limit)
      .select("rhythm_hash", "anomaly_type", "service", "severity", "body",
        "count", "start_ts", "score")

  // -------------------------------------------------------------------
  // Graph-accelerated serving (VERDICT r10 #1): candidates come from a
  // beam walk over the persisted Tier-2 graph index
  // (GraphIndex.probeCached — executor-resident, ~10% of nodes visited
  // at 100k+ vectors) instead of an exact corpus scan; each hit carries
  // its row's payload, and the driver ranker below scores and orders
  // the bounded hit set exactly as the exact verbs would. This
  // mirrors the reference, which serves every Tier-2 query through
  // Qdrant's HNSW (`qdrant_service.py:73-95`) — including its
  // approximation: a filtered search can miss a row whose score is
  // below the unfiltered candidate cutoff. Unlike the reference, a
  // SHORTFALL (result rows under the requested limit) falls back to the
  // exact scan, so the approximation can only ever trim an over-full
  // result, never return an under-filled one.
  // -------------------------------------------------------------------

  /** Candidate multiple of `limit` fetched from the graph walk; the
    * slack absorbs filtering, rule suppression, and per-hash collapse. */
  val CandidateOversample = 4
  private def candidateKFor(limit: Int): Int = math.max(limit * CandidateOversample, 256)
  /** Beam width sized so ~NumParts sub-graphs can fill candidateK. */
  private def serveEf(candidateK: Int): Int =
    math.max(GraphIndex.EfSearch, candidateK / GraphIndex.NumParts + 32)

  // -------------------------------------------------------------------
  // Driver-side ranking. Two candidate sets reach these rankers, both
  // already ON THE DRIVER: a graph probe's O(k) hits (ServingHit payload
  // + embedding — Qdrant's hit-with-payload model; the only graph
  // serving route, VERDICT r15 item 6), and every row of a store that
  // `Via` pins as a [[ServingSnapshot]].
  // Pushing either back through a Catalyst pipeline costs 2-3 jobs plus
  // planning per call (~160 ms of the ~275 ms graph-served p50 at 150k
  // rows; ~290-560 ms per exact call on a pinned 10k-row store) to
  // process rows the driver already holds. The rankers apply the
  // IDENTICAL stages in-JVM: every predicate/score calls the same static
  // kernel the Catalyst expression compiles to
  // (ContainsAllTokens.compute; the CosineSimExpr fold over the same
  // float-cast values; java BigDecimal HALF_UP like Catalyst Round),
  // null handling mirrors the column semantics case by case (noted
  // inline), and the orderings replicate TopKPerGroup / TakeOrdered key
  // order, ties kept in candidate order. Parity is pinned by
  // TierServeSpec (graph-served == exact) and ServingSnapshotSpec (a
  // pinned snapshot == the unpinned scan). On the graph route, fewer than
  // `limit` scored survivors — or hits without payloads (a graph built
  // before payloads existed) — fall back to the exact whole-store scan.
  // -------------------------------------------------------------------

  private[search] final case class Cand(hash: String, aType: String,
      aCtx: String, startTs: java.lang.Long, endTs: java.lang.Long,
      count: java.lang.Long, service: String, severity: String,
      body: String, dt: String, dense: Array[Float])

  @transient private lazy val payloadMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** ServingHit → ranked-candidate row. The payload is the to_json of
    * TierIndex.PayloadFields (flat strings + longs), so a Jackson walk
    * recovers every field value-exactly; the hit embedding is already
    * the store's float dtype (ServingHit contract — the same values the
    * exact verbs read from `dense`). */
  private def parseCand(h: GraphIndex.ServingHit): Cand = {
    val node = payloadMapper.readTree(h.payload)
    def s(f: String): String = {
      val n = node.get(f); if (n == null || n.isNull) null else n.asText()
    }
    def l(f: String): java.lang.Long = {
      val n = node.get(f)
      if (n == null || n.isNull) null else java.lang.Long.valueOf(n.asLong())
    }
    Cand(s("rhythm_hash"), s("anomaly_type"), s("anomaly_context"),
      l("start_ts"), l("end_ts"), l("count"), s("service"), s("severity"),
      s("body"), s("dt"), h.embedding)
  }

  /** The CosineSimExpr fold (ascending index, double accumulate) over a
    * float vector and a float query — op-for-op the kernel's loop, so
    * scores are bit-identical to the plan's cosine(array<float>,
    * embed_text(...)). */
  private def cosineFF(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val sna = math.sqrt(na); val snb = math.sqrt(nb)
    if (sna == 0.0 || snb == 0.0) 0.0 else d / (sna * snb)
  }

  /** [[cosineFF]] against a double query vector (triage's typedLit). */
  private def cosineFD(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val sna = math.sqrt(na); val snb = math.sqrt(nb)
    if (sna == 0.0 || snb == 0.0) 0.0 else d / (sna * snb)
  }

  /** Catalyst Round(x, 6) for doubles: BigDecimal.valueOf + HALF_UP; NaN
    * and infinities pass through unrounded. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** round(cosine(dense, q), 6) with CosineSimExpr's nulls: a NULL vector
    * or a dimension mismatch scores NULL (a NULL score sorts after every
    * scored row, so it only surfaces when too few rows are scored). */
  private def scoreFF(v: Array[Float], q: Array[Float]): java.lang.Double =
    if (v == null || v.length != q.length) null else round6(cosineFF(v, q))
  private def scoreFD(v: Array[Float], q: Array[Double]): java.lang.Double =
    if (v == null || v.length != q.length) null else round6(cosineFD(v, q))

  /** Spark's double order (SQLOrderingUtil.compareDoubles): NaN equals
    * NaN and sorts above every number; -0.0 equals 0.0. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0
    else if (a.isNaN) { if (b.isNaN) 0 else 1 }
    else if (b.isNaN) -1
    else java.lang.Double.compare(a, b)

  /** Null placement of Spark's `desc` (nulls last) and `asc` (nulls
    * first) sort orders around a comparator for the non-null values. */
  private def nullsLast[T](a: T, b: T)(cmp: (T, T) => Int): Int =
    if (a == null) { if (b == null) 0 else 1 }
    else if (b == null) -1
    else cmp(a, b)
  private def nullsFirst[T](a: T, b: T)(cmp: (T, T) => Int): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else cmp(a, b)

  private type Scored = (Cand, java.lang.Double)
  private def scoreDesc(a: Scored, b: Scored): Int =
    nullsLast(a._2, b._2)((x, y) => cmpDouble(y, x))
  private def startTsDesc(a: Scored, b: Scored): Int =
    nullsLast(a._1.startTs, b._1.startTs)((x, y) => java.lang.Long.compare(y, x))

  /** score desc, start_ts desc, dt asc — TopKPerGroup's within-group key
    * order. */
  private def cmpGroupKey(a: Scored, b: Scored): Int = {
    val s = scoreDesc(a, b)
    if (s != 0) return s
    val t = startTsDesc(a, b)
    if (t != 0) return t
    nullsFirst(a._1.dt, b._1.dt)(_ compareTo _)
  }

  /** The exact clusters pipeline in-JVM, NULL scores included (the graph
    * route drops them; see [[clustersIndexedImpl]]). */
  private def rankClustersDriver(cands: Iterable[Cand],
      activeRules: Set[String], startTs: Option[Long], endTs: Option[Long],
      textFilter: Option[String], limit: Int): Seq[Row] = {
    val qTokens = textFilter.fold(Array.empty[String])(
      _.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
    val qEmb = textFilter.map(graft.functions.EmbedText.embedString)
    // top-1 per rhythm_hash (NULL hashes form one group): a candidate
    // replaces the held one only when strictly better, so ties keep the
    // first in candidate order — TopKPerGroup's bounded-buffer insert
    val best = new java.util.HashMap[String, Scored]()
    cands.iterator
      // range filters: a NULL start_ts fails a bounded comparison (drops)
      // and passes the unbounded lit(true), like the column predicates
      .filter(c => startTs.forall(s => c.startTs != null && c.startTs >= s))
      .filter(c => endTs.forall(e => c.startTs != null && c.startTs <= e))
      // matchText: zero query tokens match everything incl. NULL body;
      // otherwise the kernel null-propagates and the filter drops
      .filter(c => qTokens.isEmpty ||
        (c.body != null && graft.functions.ContainsAllTokens.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString(c.body),
          qTokens)))
      // rules left_anti: a NULL hash never matches a rule (kept)
      .filter(c => c.hash == null || !activeRules.contains(c.hash))
      .foreach { c =>
        // no text filter: lit(0.0), no vector read at all
        val sc: Scored = (c, qEmb.fold[java.lang.Double](0.0)(scoreFF(c.dense, _)))
        val held = best.get(c.hash)
        if (held == null || cmpGroupKey(sc, held) < 0) best.put(c.hash, sc)
      }
    import scala.jdk.CollectionConverters._
    // final order: score desc, start_ts desc, rhythm_hash asc (total:
    // one row per hash)
    topK(best.values.iterator.asScala, limit) { (a, b) =>
      val s = scoreDesc(a, b)
      if (s != 0) s
      else {
        val t = startTsDesc(a, b)
        if (t != 0) t else nullsFirst(a._1.hash, b._1.hash)(_ compareTo _)
      }
    }.map { case (c, sc) =>
      Row(c.hash, c.aType, c.aCtx, c.service,
        c.severity, c.body, c.count, c.startTs, c.endTs, sc)
    }
  }

  /** The exact triage rank in-JVM, NULL scores included. */
  private def rankTriageDriver(cands: Iterable[Cand], exclude: Set[String],
      qv: Seq[Double], limit: Int): Seq[Row] = {
    val q = qv.toArray
    val scored = cands.iterator
      // !isin(...) over a NULL hash evaluates NULL → dropped
      .filter(c => c.hash != null && !exclude.contains(c.hash))
      .map(c => (c, scoreFD(c.dense, q)): Scored)
      .zipWithIndex
    // score desc, rhythm_hash asc; rows tied on both keep candidate order
    topK(scored, limit) { (a, b) =>
      val s = scoreDesc(a._1, b._1)
      if (s != 0) s
      else {
        val h = a._1._1.hash.compareTo(b._1._1.hash)
        if (h != 0) h else Integer.compare(a._2, b._2)
      }
    }.map { case ((c, sc), _) =>
      Row(c.hash, c.aType, c.service, c.severity, c.body, c.count,
        c.startTs, sc)
    }
  }

  /** The first `k` of `items` in `cmp` order (a total order), sorted: a
    * bounded heap holding the k best so far, O(n log k). */
  private def topK[T](items: Iterator[T], k: Int)(cmp: (T, T) => Int): Vector[T] = {
    val worstFirst = new java.util.PriorityQueue[T](math.max(1, k),
      (a: T, b: T) => cmp(b, a))
    items.foreach { x =>
      if (worstFirst.size < k) worstFirst.add(x)
      else if (k > 0 && cmp(x, worstFirst.peek()) < 0) {
        worstFirst.poll(); worstFirst.add(x)
      }
    }
    import scala.jdk.CollectionConverters._
    worstFirst.asScala.toVector.sortWith(cmp(_, _) < 0)
  }

  import org.apache.spark.sql.types._
  private val ClustersOutSchema = StructType(Seq(
    StructField("rhythm_hash", StringType), StructField("anomaly_type", StringType),
    StructField("anomaly_context", StringType), StructField("service", StringType),
    StructField("severity", StringType), StructField("body", StringType),
    StructField("count", LongType), StructField("start_ts", LongType),
    StructField("end_ts", LongType), StructField("score", DoubleType)))
  private val TriageOutSchema = StructType(Seq(
    StructField("rhythm_hash", StringType), StructField("anomaly_type", StringType),
    StructField("service", StringType), StructField("severity", StringType),
    StructField("body", StringType), StructField("count", LongType),
    StructField("start_ts", LongType), StructField("score", DoubleType)))

  /** Graph-accelerated [[clusters]] (text-filtered form only — without a
    * text filter there is no query vector and nothing to probe). */
  def clustersIndexed(
      tier2: DataFrame,
      graphPath: String,
      rules: Option[Rules],
      nowSec: Long,
      startTs: Option[Long] = None,
      endTs: Option[Long] = None,
      textFilter: String,
      limit: Int = GroupLimit): DataFrame =
    clustersIndexedImpl(tier2, graphPath, rules, nowSec, startTs, endTs,
      textFilter, limit)._1

  /** Returns (result, servedViaGraph) — the flag is false when the
    * exact-scan fallback ran instead (shortfall, or payload-less hits). */
  private[graft] def clustersIndexedImpl(
      tier2: DataFrame,
      graphPath: String,
      rules: Option[Rules],
      nowSec: Long,
      startTs: Option[Long],
      endTs: Option[Long],
      textFilter: String,
      limit: Int): (DataFrame, Boolean) = {
    val spark = tier2.sparkSession
    // the same embedding kernel the in-plan expression runs
    val qv = graft.functions.EmbedText.embedString(textFilter)
      .map(_.toDouble).toSeq
    val k = candidateKFor(limit)
    val hits = GraphIndex.servingHits(spark, graphPath, qv, k, serveEf(k))
    // unscored rows (NULL or wrong-dimension vectors) rank last, so
    // dropping them here leaves the scored prefix; a short prefix falls
    // back to the exact scan
    val rows =
      if (hits.isEmpty || hits.exists(_.payload == null)) Seq.empty
      else rankClustersDriver(hits.map(parseCand),
        rules.fold(Set.empty[String])(_.activeHashes(nowSec)),
        startTs, endTs, Some(textFilter), limit)
        .filterNot(_.isNullAt(ClustersOutSchema.length - 1))
    if (rows.length < limit)
      (clustersPipeline(tier2, rules, nowSec, startTs, endTs,
        Some(textFilter), limit), false)
    else (localRows(spark, rows, ClustersOutSchema), true)
  }

  /** Driver-ranked rows as a DataFrame: a local relation, so collecting
    * it launches no Spark job. */
  private def localRows(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** [[clusters]] over a pinned driver snapshot: the exact verb, ranked
    * in-JVM over every row — no Spark job (the active-rule set is
    * memoized by [[Rules.activeHashes]]). */
  def clustersSnapshot(
      spark: SparkSession,
      snapshot: ServingSnapshot,
      rules: Option[Rules],
      nowSec: Long,
      startTs: Option[Long] = None,
      endTs: Option[Long] = None,
      textFilter: Option[String] = None,
      limit: Int = GroupLimit): DataFrame =
    localRows(spark, rankClustersDriver(snapshot.rows,
      rules.fold(Set.empty[String])(_.activeHashes(nowSec)),
      startTs, endTs, textFilter, limit), ClustersOutSchema)

  /** [[triage]] over a pinned driver snapshot: the example vector and the
    * rank run in-JVM over every row. The degenerate edge (no positive
    * example matched) keeps the Spark verb over `tier2`, the relation
    * the snapshot was collected from, for its NULL-propagation
    * semantics. */
  def triageSnapshot(
      snapshot: ServingSnapshot,
      tier2: DataFrame,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String],
      limit: Int = TriageLimit): DataFrame =
    exampleVectorDriver(snapshot, positiveHashes, negativeHashes) match {
      case Some(qv) =>
        localRows(tier2.sparkSession, rankTriageDriver(snapshot.rows,
          (positiveHashes ++ negativeHashes).toSet, qv, limit), TriageOutSchema)
      case None => triage(tier2, positiveHashes, negativeHashes, limit)
    }

  /** Graph-accelerated [[triage]]. */
  def triageIndexed(
      tier2: DataFrame,
      graphPath: String,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String],
      limit: Int = TriageLimit): DataFrame =
    triageIndexedImpl(tier2, graphPath, positiveHashes, negativeHashes,
      limit)._1

  /** The recommend vector computed WITHOUT the 384-lane Catalyst
    * aggregate: one exchange-free mapPartitions pass (partial sums per
    * partition, combined on the driver in partition order). Same math as
    * [[exampleVector]] — per-element avg over each role's rows, `2p - n`
    * when negatives exist — value-equal up to float summation order
    * (absorbed by the 6-dp score rounding). This exists for SERVING:
    * ServeBench measured ~1 s per-call planning for the wide aggregate
    * tree; this plan is three nodes. Returns None when the positive side
    * matched no rows (the degenerate edge the exact verb handles with
    * NULL propagation). */
  private[graft] def exampleVectorFast(
      tier2: DataFrame,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String]): Option[Seq[Double]] = {
    import tier2.sparkSession.implicits._
    val dim = graft.functions.EmbedText.Dim
    val posSet = positiveHashes.toSet
    val negSet = negativeHashes.toSet
    val partials = tier2
      .filter(col("rhythm_hash").isin((positiveHashes ++ negativeHashes): _*))
      .select(col("rhythm_hash"), col("dense").cast("array<double>"))
      .as[(String, Seq[Double])]
      .mapPartitions { it =>
        val ps = new Array[Double](dim); val ns = new Array[Double](dim)
        var pc = 0L; var nc = 0L
        it.foreach { case (h, v) =>
          // null vectors are skipped like the aggregate form's per-element
          // null handling (promotion never writes them; belt+braces)
          val arr = if (v == null) Seq.empty[Double] else v
          if (arr.nonEmpty && posSet(h)) {
            var i = 0; while (i < dim && i < arr.length) { ps(i) += arr(i); i += 1 }
            pc += 1
          }
          if (arr.nonEmpty && negSet(h)) {
            var i = 0; while (i < dim && i < arr.length) { ns(i) += arr(i); i += 1 }
            nc += 1
          }
        }
        Iterator((ps.toSeq, pc, ns.toSeq, nc))
      }.collect()
    val ps = new Array[Double](dim); val ns = new Array[Double](dim)
    var pc = 0L; var nc = 0L
    partials.foreach { case (p, pcnt, nvec, ncnt) =>
      var i = 0; while (i < dim) { ps(i) += p(i); ns(i) += nvec(i); i += 1 }
      pc += pcnt; nc += ncnt
    }
    recommendVector(ps, pc, ns, nc, negativeHashes.nonEmpty)
  }

  /** [[exampleVectorFast]] over a pinned snapshot's rows: the same
    * per-role sums over the float-cast values, one pass in snapshot
    * order, no Spark job. */
  private[graft] def exampleVectorDriver(
      snapshot: ServingSnapshot,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String]): Option[Seq[Double]] = {
    val dim = graft.functions.EmbedText.Dim
    val posSet = positiveHashes.toSet
    val negSet = negativeHashes.toSet
    val ps = new Array[Double](dim); val ns = new Array[Double](dim)
    var pc = 0L; var nc = 0L
    def addInto(sum: Array[Double], v: Array[Float]): Unit = {
      var i = 0; while (i < dim && i < v.length) { sum(i) += v(i); i += 1 }
    }
    // a NULL hash never matches isin; NULL/empty vectors are skipped
    snapshot.rows.foreach { c =>
      if (c.hash != null && c.dense != null && c.dense.nonEmpty) {
        if (posSet(c.hash)) { addInto(ps, c.dense); pc += 1 }
        if (negSet(c.hash)) { addInto(ns, c.dense); nc += 1 }
      }
    }
    recommendVector(ps, pc, ns, nc, negativeHashes.nonEmpty)
  }

  /** `avg(pos) + (avg(pos) - avg(neg))` from per-role sums and counts;
    * None when the positive side (or a requested negative side) matched
    * no rows. */
  private def recommendVector(ps: Array[Double], pc: Long,
      ns: Array[Double], nc: Long, hasNegatives: Boolean): Option[Seq[Double]] =
    if (pc == 0 || (hasNegatives && nc == 0)) None
    else if (nc == 0) Some(ps.map(_ / pc).toSeq)
    else Some(ps.indices.map(i => 2.0 * ps(i) / pc - ns(i) / nc))

  /** Returns (result, servedViaGraph). `precomputedQv` lets a caller
    * holding a pinned snapshot pass the example vector it computed
    * in-JVM ([[exampleVectorDriver]]) instead of the two store scans of
    * [[exampleVectorFast]]. */
  private[graft] def triageIndexedImpl(
      tier2: DataFrame,
      graphPath: String,
      positiveHashes: Seq[String],
      negativeHashes: Seq[String],
      limit: Int,
      precomputedQv: Option[Option[Seq[Double]]] = None): (DataFrame, Boolean) = {
    val spark = tier2.sparkSession
    val qvOpt = precomputedQv.getOrElse(
      exampleVectorFast(tier2, positiveHashes, negativeHashes))
    if (qvOpt.isEmpty)
      // degenerate examples (absent hashes): keep the exact verb's
      // semantics for the edge verbatim
      return (triage(tier2, positiveHashes, negativeHashes, limit), false)
    val qv = qvOpt.get
    val k = candidateKFor(limit) + positiveHashes.size + negativeHashes.size
    val hits = GraphIndex.servingHits(spark, graphPath, qv, k, serveEf(k))
    val rows =
      if (hits.isEmpty || hits.exists(_.payload == null)) Seq.empty
      else rankTriageDriver(hits.map(parseCand),
        (positiveHashes ++ negativeHashes).toSet, qv, limit)
        .filterNot(_.isNullAt(TriageOutSchema.length - 1))
    if (rows.length < limit)
      (triage(tier2, positiveHashes, negativeHashes, limit), false)
    else (localRows(spark, rows, TriageOutSchema), true)
  }
}
