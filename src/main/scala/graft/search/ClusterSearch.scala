package graft.search

import graft.GraftFunctions
import graft.control.Rules
import graft.functions.TextFunctions.matchText
import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.DataFrame
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
  // Driver-side candidate ranking — the only graph serving route
  // (VERDICT r15 item 6). A graph probe's candidates are already O(k)
  // rows ON THE DRIVER (ServingHit payload + embedding — Qdrant's
  // hit-with-payload model); pushing them back through a Catalyst
  // pipeline cost 2 jobs + planning per call (~160 ms of the ~275 ms
  // p50 at 150k rows) just to process ~400 rows. The ranker applies the
  // IDENTICAL stages in-JVM: every predicate/score calls the same static
  // kernel the Catalyst expression compiles to
  // (ContainsAllTokens.compute; the CosineSimExpr fold over the same
  // float-cast values; java BigDecimal HALF_UP like Catalyst Round), null
  // handling mirrors the column semantics case by case (noted inline),
  // and the orderings replicate TopKPerGroup / TakeOrdered key order —
  // parity is pinned by TierServeSpec (indexed == exact on every
  // fixture, including rules and range filters). Fewer than `limit`
  // survivors — or hits without payloads (a graph built before payloads
  // existed) — fall back to the exact whole-store scan. At any corpus
  // size the ranked set stays O(k), so driver ranking is
  // scale-independent by construction.
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
  private def cosineFD(a: Array[Float], b: Seq[Double]): Double = {
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

  /** Catalyst Round(x, 6) for doubles: BigDecimal.valueOf + HALF_UP. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** score desc, start_ts desc (nulls last, Spark's desc default), dt
    * asc (nulls first) — TopKPerGroup's within-group key order. */
  private def cmpGroupKey(a: (Cand, Double), b: (Cand, Double)): Int = {
    val s = java.lang.Double.compare(b._2, a._2)
    if (s != 0) return s
    val t = (a._1.startTs, b._1.startTs) match {
      case (null, null) => 0
      case (null, _) => 1
      case (_, null) => -1
      case (x, y) => java.lang.Long.compare(y, x)
    }
    if (t != 0) return t
    (a._1.dt, b._1.dt) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => x.compareTo(y)
    }
  }

  private def rankClustersDriver(cands: Seq[Cand], activeRules: Set[String],
      startTs: Option[Long], endTs: Option[Long], textFilter: String,
      limit: Int): Seq[org.apache.spark.sql.Row] = {
    val qTokens = textFilter.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    val qEmb = graft.functions.EmbedText.embedString(textFilter)
    val scored = cands.iterator
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
      // dimension mismatch: CosineSimExpr null-propagates, so on the
      // Catalyst path such a row scores NULL and can never outrank a
      // scored row; the buffer serving path drops it outright. Mirror
      // the drop here — folding over min(len) would instead invent a
      // truncated score and rank the row differently (ADVICE r16).
      .filter(c => c.dense != null && c.dense.length == qEmb.length)
      .map(c => (c, round6(cosineFF(c.dense, qEmb))))
      .toVector
    // top-1 per rhythm_hash (ties keep the first in candidate order,
    // like the bounded buffer fed by the single-partition local scan)
    val best = scored.groupBy(_._1.hash).valuesIterator
      .map(g => g.minBy(identity)(Ordering.fromLessThan[(Cand, Double)](
        (a, b) => cmpGroupKey(a, b) < 0)))
      .toVector
    // final order: score desc, start_ts desc, rhythm_hash asc
    best.sortWith { (a, b) =>
      val s = java.lang.Double.compare(b._2, a._2)
      if (s != 0) s < 0
      else {
        val t = (a._1.startTs, b._1.startTs) match {
          case (null, null) => 0
          case (null, _) => 1
          case (_, null) => -1
          case (x, y) => java.lang.Long.compare(y, x)
        }
        if (t != 0) t < 0
        else (a._1.hash, b._1.hash) match {
          case (null, null) => false
          case (null, _) => true
          case (_, null) => false
          case (x, y) => x.compareTo(y) < 0
        }
      }
    }.take(limit).map { case (c, sc) =>
      org.apache.spark.sql.Row(c.hash, c.aType, c.aCtx, c.service,
        c.severity, c.body, c.count, c.startTs, c.endTs, sc)
    }
  }

  private def rankTriageDriver(cands: Seq[Cand], exclude: Set[String],
      qv: Seq[Double], limit: Int): Seq[org.apache.spark.sql.Row] =
    cands.iterator
      // !isin(...) over a NULL hash evaluates NULL → dropped
      .filter(c => c.hash != null && !exclude.contains(c.hash))
      // dimension mismatch → drop, mirroring CosineSimExpr's
      // null-on-mismatch (see rankClustersDriver; ADVICE r16)
      .filter(c => c.dense != null && c.dense.length == qv.length)
      .map(c => (c, round6(cosineFD(c.dense, qv))))
      .toVector
      .sortWith { (a, b) =>
        val s = java.lang.Double.compare(b._2, a._2)
        if (s != 0) s < 0
        else a._1.hash.compareTo(b._1.hash) < 0
      }
      .take(limit).map { case (c, sc) =>
        org.apache.spark.sql.Row(c.hash, c.aType, c.service, c.severity,
          c.body, c.count, c.startTs, sc)
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
    val rows =
      if (hits.isEmpty || hits.exists(_.payload == null)) Seq.empty
      else rankClustersDriver(hits.map(parseCand),
        rules.fold(Set.empty[String])(_.activeHashes(nowSec)),
        startTs, endTs, textFilter, limit)
    if (rows.length < limit)
      (clustersPipeline(tier2, rules, nowSec, startTs, endTs,
        Some(textFilter), limit), false)
    else
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), ClustersOutSchema), true)
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
    if (pc == 0 || (negativeHashes.nonEmpty && nc == 0)) None
    else if (nc == 0) Some(ps.map(_ / pc).toSeq)
    else Some((0 until dim).map(i => 2.0 * ps(i) / pc - ns(i) / nc))
  }

  /** Returns (result, servedViaGraph). `precomputedQv` lets a caller
    * holding a frozen serving snapshot (Via's pin) memoize the example
    * vector across calls — the two store scans it costs are
    * re-derivable from the pinned snapshot only, so the memo's validity
    * IS the pin's validity (Via clears it on pin/unpin/refresh). */
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
    if (rows.length < limit)
      (triage(tier2, positiveHashes, negativeHashes, limit), false)
    else
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), TriageOutSchema), true)
  }
}
