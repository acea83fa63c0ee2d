package graft.search

import graft.{GraftFunctions, SparkSpec}
import graft.api.Via
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The graph-accelerated Tier-2 serving path (VERDICT r10 #1/#5/#6):
  * indexed clusters/triage must equal the exact verbs row-for-row on the
  * gate-scale fixture, streamed appends must be probe-visible without a
  * rebuild, the shortfall fallback must kick in rather than under-fill,
  * and the maintenance policy verb must run each store's counterweight
  * exactly when its threshold says so — with probes unchanged. */
class TierServeSpec extends SparkSpec {

  /** Synthetic Tier-2-shaped store: unique hash per row, bodies with
    * shared vocabulary so text filters hit many rows, dense = the real
    * embedding kernel over the body (what promotion writes). */
  private def tier2Fixture(n: Int, idOffset: Long = 0L): DataFrame =
    spark.range(n).selectExpr(
      s"id + $idOffset as id",
      s"concat('h', id + $idOffset) as rhythm_hash",
      "if(id % 2 = 0, 'novelty', 'frequency') as anomaly_type",
      "concat('count=', 5 + id % 10) as anomaly_context",
      "concat('svc', id % 8) as service",
      "if(id % 5 = 0, 'ERROR', 'INFO') as severity",
      s"concat('op ', (id + $idOffset) % 25, ' failed with code ', (id + $idOffset) % 7, ' for user ', id + $idOffset) as body",
      "cast(5 + id % 10 as bigint) as count",
      s"1700000000 + (id + $idOffset) * 60 as start_ts",
      s"1700000050 + (id + $idOffset) * 60 as end_ts")
      .withColumn("dense", GraftFunctions.embedText(col("body")))
      .withColumn("dt", graft.analysis.DtPrune.dtOf(col("start_ts")))
      .drop("id")

  private def rowStrs(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("triageIndexed == triage on the gate fixture (graph-served, no fallback)") {
    val t2 = tier2Fixture(600).cache(); t2.count()
    val gpath = java.nio.file.Files.createTempDirectory("tserve").toString + "/g"
    TierIndex.build(t2, gpath)
    val pos = Seq("h3", "h17"); val neg = Seq("h40")
    val exact = rowStrs(ClusterSearch.triage(t2, pos, neg, limit = 10))
    val (ixDf, served) = ClusterSearch.triageIndexedImpl(t2, gpath, pos, neg,
      limit = 10)
    assert(served, "expected the graph path, got the fallback")
    assert(rowStrs(ixDf) == exact)
    t2.unpersist()
  }

  test("clustersIndexed == clusters on the gate fixture (graph-served)") {
    val t2 = tier2Fixture(600).cache(); t2.count()
    val gpath = java.nio.file.Files.createTempDirectory("cserve").toString + "/g"
    TierIndex.build(t2, gpath)
    val now = 1700000000L + 700 * 60
    val exact = rowStrs(ClusterSearch.clusters(t2, None, now,
      textFilter = Some("failed user"), limit = 10))
    val (ixDf, served) = ClusterSearch.clustersIndexedImpl(t2, gpath, None,
      now, None, None, textFilter = "failed user", limit = 10)
    assert(served, "expected the graph path, got the fallback")
    assert(rowStrs(ixDf) == exact)
    // with a ts-range on top: the filters ride the shared pipeline
    val lo = 1700000000L + 100 * 60; val hi = 1700000000L + 500 * 60
    val exactR = rowStrs(ClusterSearch.clusters(t2, None, now, Some(lo),
      Some(hi), Some("failed"), limit = 10))
    val (ixR, servedR) = ClusterSearch.clustersIndexedImpl(t2, gpath, None,
      now, Some(lo), Some(hi), "failed", limit = 10)
    assert(servedR && rowStrs(ixR) == exactR)
    t2.unpersist()
  }

  test("shortfall falls back to the exact scan, never under-fills") {
    val t2 = tier2Fixture(40).cache(); t2.count()
    val gpath = java.nio.file.Files.createTempDirectory("sfall").toString + "/g"
    TierIndex.build(t2, gpath)
    // limit > corpus: the indexed path cannot fill it -> exact fallback
    val (df, served) = ClusterSearch.triageIndexedImpl(t2, gpath,
      Seq("h1"), Nil, limit = 50)
    assert(!served, "a 40-row corpus cannot fill limit=50 via the graph")
    assert(rowStrs(df) == rowStrs(ClusterSearch.triage(t2, Seq("h1"), Nil, 50)))
    // absent example hashes degrade exactly like the exact verb
    val (df2, served2) = ClusterSearch.triageIndexedImpl(t2, gpath,
      Seq("no_such_hash"), Nil, limit = 5)
    assert(!served2)
    assert(rowStrs(df2) ==
      rowStrs(ClusterSearch.triage(t2, Seq("no_such_hash"), Nil, 5)))
    t2.unpersist()
  }

  test("streamed appendBatch rows are candidate-visible without a rebuild") {
    val base = tier2Fixture(600).cache(); base.count()
    val gpath = java.nio.file.Files.createTempDirectory("tfresh").toString + "/g"
    TierIndex.build(base, gpath)
    // fresh batch shares a body with the positive example -> its dense
    // vector is ~the query vector, so it MUST rank top if visible
    val fresh = tier2Fixture(20, idOffset = 10000L)
    TierIndex.appendBatch(fresh, gpath, batchId = 7L)
    val all = base.unionByName(fresh)
    val pos = Seq("h3")
    val exact = rowStrs(ClusterSearch.triage(all, pos, Nil, limit = 10))
    val (ixDf, served) = ClusterSearch.triageIndexedImpl(all, gpath, pos, Nil,
      limit = 10)
    assert(served)
    assert(rowStrs(ixDf) == exact)
    // idempotent: replaying the batch doubles nothing
    TierIndex.appendBatch(fresh, gpath, batchId = 7L)
    assert(GraphIndex.bufferRows(spark, gpath) == 20L)
    base.unpersist()
  }

  test("clusters serve from node payloads alone — no corpus rejoin (r11 weak)") {
    val t2 = tier2Fixture(600).cache(); t2.count()
    val gpath = java.nio.file.Files.createTempDirectory("pserve").toString + "/g"
    TierIndex.build(t2, gpath)
    val now = 1700000000L + 700 * 60
    val exact = rowStrs(ClusterSearch.clusters(t2, None, now,
      textFilter = Some("failed user"), limit = 10))
    // an EMPTY Tier-2-shaped relation: if the served path touched the
    // corpus at all (rowKey scan, recovery join, fallback), the result
    // would be empty/short — payload-carried hits must rebuild the rows
    val empty = t2.limit(0)
    val (ixDf, served) = ClusterSearch.clustersIndexedImpl(empty, gpath,
      None, now, None, None, textFilter = "failed user", limit = 10)
    assert(served, "payload-served path unexpectedly fell back")
    assert(rowStrs(ixDf) == exact)
    // payloads survive the rebuild fold: append a batch, rebuild, serve
    val fresh = tier2Fixture(30, idOffset = 20000L)
    TierIndex.appendBatch(fresh, gpath, batchId = 3L)
    GraphIndex.rebuild(spark, gpath)
    assert(GraphIndex.bufferRows(spark, gpath) == 0L)
    val all = t2.unionByName(fresh)
    val exact2 = rowStrs(ClusterSearch.clusters(all, None, now,
      textFilter = Some("failed user"), limit = 10))
    val (ix2, served2) = ClusterSearch.clustersIndexedImpl(all.limit(0),
      gpath, None, now, None, None, textFilter = "failed user", limit = 10)
    assert(served2 && rowStrs(ix2) == exact2)
    t2.unpersist()
  }

  test("a graph without payloads falls back to the exact scan") {
    // nodes built before the payload column existed: the driver ranker
    // has no rows to rank, so both verbs must take the exact fallback
    val t2 = tier2Fixture(600).cache(); t2.count()
    val gpath = java.nio.file.Files.createTempDirectory("nopay").toString + "/g"
    GraphIndex.build(TierIndex.nodes(t2).drop("payload"), gpath)
    val now = 1700000000L + 700 * 60
    val (cDf, cServed) = ClusterSearch.clustersIndexedImpl(t2, gpath, None,
      now, None, None, textFilter = "failed user", limit = 10)
    assert(!cServed, "payload-less hits cannot be graph-served")
    assert(rowStrs(cDf) == rowStrs(ClusterSearch.clusters(t2, None, now,
      textFilter = Some("failed user"), limit = 10)))
    val pos = Seq("h3", "h17"); val neg = Seq("h40")
    val (tDf, tServed) = ClusterSearch.triageIndexedImpl(t2, gpath, pos, neg,
      limit = 10)
    assert(!tServed, "payload-less hits cannot be graph-served")
    assert(rowStrs(tDf) == rowStrs(ClusterSearch.triage(t2, pos, neg, limit = 10)))
    t2.unpersist()
  }

  test("triage (fast example vector) == the aggregate-form reference") {
    val t2 = tier2Fixture(300).cache(); t2.count()
    def strs(df: DataFrame) = rowStrs(df)
    // pos+neg, pos-only, and a single-row example group
    for ((pos, neg) <- Seq(
        (Seq("h3", "h17"), Seq("h40")),
        (Seq("h5"), Nil),
        (Seq("h1", "h2", "h9"), Seq("h11", "h12")))) {
      assert(strs(ClusterSearch.triage(t2, pos, neg, 15)) ==
        strs(ClusterSearch.triageViaAggregate(t2, pos, neg, 15)),
        s"fast-vector triage diverged for pos=$pos neg=$neg")
    }
    // degenerate: absent positive hash routes to the aggregate form
    assert(strs(ClusterSearch.triage(t2, Seq("nope"), Nil, 5)) ==
      strs(ClusterSearch.triageViaAggregate(t2, Seq("nope"), Nil, 5)))
    t2.unpersist()
  }

  test("Via routes through the graph at/above threshold; parity holds") {
    val wh = java.nio.file.Files.createTempDirectory("viag").toString
    val t2 = tier2Fixture(600)
    t2.write.partitionBy("dt").parquet(s"$wh/tier2")
    val viaExact = new Via(spark, wh) // default threshold: exact path
    val viaGraph = new Via(spark, wh,
      clustersServeThreshold = 1L, triageServeThreshold = 1L)
    viaGraph.buildGraphIndex()
    val now = 1700000000L + 700 * 60
    assert(rowStrs(viaGraph.clusters(now, textFilter = Some("failed user"))) ==
      rowStrs(viaExact.clusters(now, textFilter = Some("failed user"))))
    assert(rowStrs(viaGraph.triage(Seq("h3", "h17"), Seq("h40"))) ==
      rowStrs(viaExact.triage(Seq("h3", "h17"), Seq("h40"))))
    // no text filter -> no query vector -> both serve the exact plan
    assert(rowStrs(viaGraph.clusters(now)) == rowStrs(viaExact.clusters(now)))
  }

  test("per-verb graph-serve routing: gates resolve and route independently") {
    val wh = java.nio.file.Files.createTempDirectory("viagate").toString
    tier2Fixture(600).write.partitionBy("dt").parquet(s"$wh/tier2")
    val viaSplit = new Via(spark, wh,
      clustersServeThreshold = 1L, triageServeThreshold = 10000L)
    viaSplit.buildGraphIndex()
    // the 600-node store sits between the two gates: clusters routes to
    // the graph while triage keeps the exact scan (the r12 finding —
    // triage's crossover is far later, one shared gate made it pay ~1.5×
    // in the band)
    assert(viaSplit.clustersServesViaGraph && !viaSplit.triageServesViaGraph)
    // defaults: both measured thresholds sit above this store
    val viaDef = new Via(spark, wh)
    assert(viaDef.clustersServeThreshold == Via.ClustersServeThreshold &&
      viaDef.triageServeThreshold == Via.TriageServeThreshold)
    assert(!viaDef.clustersServesViaGraph && !viaDef.triageServesViaGraph)
    // the mirror split: each gate only ever routes its own verb
    val viaMirror = new Via(spark, wh,
      clustersServeThreshold = 10000L, triageServeThreshold = 1L)
    assert(!viaMirror.clustersServesViaGraph && viaMirror.triageServesViaGraph)
    // routed-vs-exact parity on the split Via (both paths live here)
    val now = 1700000000L + 700 * 60
    val viaExact = new Via(spark, wh, clustersServeThreshold = Long.MaxValue,
      triageServeThreshold = Long.MaxValue)
    assert(rowStrs(viaSplit.clusters(now, textFilter = Some("failed user"))) ==
      rowStrs(viaExact.clusters(now, textFilter = Some("failed user"))))
    assert(rowStrs(viaSplit.triage(Seq("h3", "h17"), Seq("h40"))) ==
      rowStrs(viaExact.triage(Seq("h3", "h17"), Seq("h40"))))
  }

  test("a pinned Via serves clusters_text and triage through the graph") {
    val wh = java.nio.file.Files.createTempDirectory("viagpin").toString
    tier2Fixture(600).write.partitionBy("dt").parquet(s"$wh/tier2")
    def graphVia() = new Via(spark, wh,
      clustersServeThreshold = 1L, triageServeThreshold = 1L)
    val pinned = graphVia()
    val unpinned = graphVia()
    val exact = new Via(spark, wh, clustersServeThreshold = Long.MaxValue,
      triageServeThreshold = Long.MaxValue)
    pinned.buildGraphIndex()
    pinned.pinServing()
    assert(pinned.clustersServesViaGraph && pinned.triageServesViaGraph)
    val now = 1700000000L + 700 * 60
    val pos = Seq("h3", "h17"); val neg = Seq("h40")
    def clustersText(via: Via) = via.clusters(now, textFilter = Some("failed user"))
    assert(rowStrs(clustersText(pinned)) == rowStrs(clustersText(exact)))
    assert(rowStrs(pinned.triage(pos, neg)) == rowStrs(exact.triage(pos, neg)))
    // graph-served clusters_text starts only the probe's jobs; pinned
    // triage takes its example vector from the snapshot, so it starts the
    // same jobs and no more, while the unpinned call scans the store for it
    val probeJobs = jobsStarted(clustersText(pinned).collect())
    assert(probeJobs > 0)
    assert(jobsStarted(pinned.triage(pos, neg).collect()) == probeJobs)
    assert(jobsStarted(unpinned.triage(pos, neg).collect()) > probeJobs)
    pinned.unpinServing()
  }

  test("batch promotion follows an existing graph; drift re-syncs (ADVICE r11)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("bfresh").toString
    val via = new Via(spark, wh,
      clustersServeThreshold = 1L, triageServeThreshold = 1L)
    def writeBurst(hash: String, t0: Long): Unit =
      (0 until 6).map(i => (hash, t0 - 5 - i, 900L + i))
        .toDF("rhythm_hash", "ts_sec", "event_id")
        .withColumn("service", lit("svc"))
        .withColumn("severity", lit("ERROR"))
        .withColumn("body", lit(s"burst $hash failed"))
        .withColumn("dt", graft.analysis.DtPrune.dtOf(col("ts_sec")))
        .write.mode("append").partitionBy("dt").parquet(s"$wh/tier1")
    val now = 1700000000L
    writeBurst("h_before", now)
    // no graph index yet: analyzeOnce must NOT create one
    via.analyzeOnce(now, windowSec = 120)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(via.graphIndexPath)))
    via.buildGraphIndex()
    val nodes0 = GraphIndex.nodeCount(spark, via.graphIndexPath).get
    // a later batch cycle: the promoted cluster must land in the graph
    // buffer in the SAME call (the streaming path's freshness contract)
    val now2 = now + 3600
    writeBurst("h_after", now2)
    via.analyzeOnce(now2, windowSec = 120)
    assert(GraphIndex.bufferRows(spark, via.graphIndexPath) >= 1L,
      "batch-promoted cluster missing from the graph buffer")
    val storeKeys = spark.read.parquet(via.tier2Path)
      .select(TierIndex.rowKey).distinct().count()
    assert(GraphIndex.indexedKeyCount(spark, via.graphIndexPath) == storeKeys)
    // drift: rows written to Tier-2 BEHIND the index's back (the pre-fix
    // batch path, a crash between the two writes) are found and re-synced
    // — even while a STALE serving pin is held. The append is a RAW file
    // copy (no Spark write): Spark's own writers invalidate the cached
    // pin plan, but the ledgered streaming appends and compaction swaps
    // do NOT — and with a pin held, CacheManager substitutes the
    // snapshot into any same-plan root read, so a maintenance sweep
    // reading `spark.read.parquet(tier2)` would count the PIN's rows and
    // miss this drift entirely (the r13 liveTier2Read fix; found by
    // FreshBench racing promotion against a pinned server).
    via.pinServing()
    val driftSrc = java.nio.file.Files.createTempDirectory("drift").toString
    tier2Fixture(50, idOffset = 40000L)
      .write.mode("append").partitionBy("dt").parquet(driftSrc)
    java.nio.file.Files.walk(java.nio.file.Paths.get(driftSrc)).iterator()
      .forEachRemaining { p =>
        val f = p.toFile
        if (f.isFile && f.getName.endsWith(".parquet")) {
          val leaf = java.nio.file.Paths.get(via.tier2Path,
            p.getParent.getFileName.toString)
          java.nio.file.Files.createDirectories(leaf)
          java.nio.file.Files.copy(p, leaf.resolve("oob-" + f.getName))
        }
      }
    val acts = via.maintainIndexes()
    assert(acts.find(_.target == "graphidx").get.action == "sync",
      acts.mkString("; "))
    // a graphidx sync does NOT rewrite tier2's files, so the held pin
    // stays VALID (its frozen file listing is intact) and the sweep must
    // not pay a re-materialization for it (ADVICE r12); only a tier2
    // rewrite (compaction swap) repins — asserted below
    assert(!acts.exists(_.target == "serving"), acts.mkString("; "))
    // force a tier2 rewrite under the same held pin: the repin fires
    val acts2 = via.maintainIndexes(smallFileThreshold = 1)
    assert(acts2.find(_.target == "tier2").get.action == "compact",
      acts2.mkString("; "))
    assert(acts2.find(_.target == "serving").get.action == "repin",
      acts2.mkString("; "))
    via.unpinServing()
    assert(GraphIndex.indexedKeyCount(spark, via.graphIndexPath) ==
      storeKeys + 50L)
    assert(GraphIndex.bufferRows(spark, via.graphIndexPath) == 0L)
    assert(GraphIndex.nodeCount(spark, via.graphIndexPath).get >= nodes0 + 51L)
    // and the re-synced graph serves with exact parity
    val t2 = spark.read.parquet(via.tier2Path)
    val exact = rowStrs(ClusterSearch.clusters(t2, None, now2 + 7200,
      textFilter = Some("failed user"), limit = 10))
    val (ix, served) = ClusterSearch.clustersIndexedImpl(t2,
      via.graphIndexPath, None, now2 + 7200, None, None,
      textFilter = "failed user", limit = 10)
    assert(served && rowStrs(ix) == exact)
    // a second sweep is quiescent
    assert(via.maintainIndexes().find(_.target == "graphidx")
      .get.action == "none")
  }

  test("maintainIndexes runs each store's counterweight; probes unchanged") {
    val wh = java.nio.file.Files.createTempDirectory("maint").toString
    val via = new Via(spark, wh,
      clustersServeThreshold = 1L, triageServeThreshold = 1L)
    // tier2: many small files across two days via repeated appends
    (0 until 3).foreach { i =>
      tier2Fixture(200, idOffset = i * 200L).repartition(8)
        .write.mode("append").partitionBy("dt").parquet(s"$wh/tier2")
    }
    // graph index with an oversized buffer (bootstrap-from-stream shape)
    via.buildGraphIndex()
    TierIndex.appendBatch(tier2Fixture(200, idOffset = 5000L),
      via.graphIndexPath, batchId = 0L)
    // ann index with 6 batch levels
    val annPath = java.nio.file.Files.createTempDirectory("maintann")
      .toString + "/idx"
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    AnnIndex.build(emb.filter(col("vec_id") < 300), annPath)
    (0 until 6).foreach { i =>
      AnnIndex.appendBatch(emb.filter(col("vec_id") >= 300 + i * 30 &&
        col("vec_id") < 300 + (i + 1) * 30), annPath, i.toLong)
    }
    val annBefore = AnnIndex.probe(spark, annPath).collect().map(_.toString)
    val graphNodesBefore = GraphIndex.nodeCount(spark, via.graphIndexPath).get
    val bufBefore = GraphIndex.bufferRows(spark, via.graphIndexPath)
    assert(bufBefore == 200L)

    val acts = via.maintainIndexes(annIndexPath = Some(annPath),
      smallFileThreshold = 8L)
    def actionOf(target: String) = acts.find(_.target == target).get.action
    assert(actionOf("tier2") == "compact", acts.mkString("; "))
    // buffer growth routes to the INCREMENTAL segment fold under the
    // segment cap (r14, VERDICT r13 item 3); the full rebuild is the
    // past-the-cap rebalance (GraphFoldSpec pins that routing)
    assert(actionOf("graphidx") == "fold", acts.mkString("; "))
    assert(actionOf("annidx") == "fold", acts.mkString("; "))
    // counterweights actually ran: buffer folded in, levels merged,
    // probes identical
    assert(GraphIndex.bufferRows(spark, via.graphIndexPath) == 0L)
    assert(GraphIndex.nodeCount(spark, via.graphIndexPath).get ==
      graphNodesBefore + 200L)
    assert(AnnIndex.probe(spark, annPath).collect().map(_.toString)
      .sameElements(annBefore))
    assert(spark.read.parquet(s"$wh/tier2").count() == 600L)
    // a second sweep finds nothing to do
    val acts2 = via.maintainIndexes(annIndexPath = Some(annPath),
      smallFileThreshold = 8L)
    assert(acts2.forall(_.action == "none"), acts2.mkString("; "))
  }
}
