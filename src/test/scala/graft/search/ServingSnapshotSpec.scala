package graft.search

import java.nio.file.Files

import graft.{GraftFunctions, SparkSpec}
import graft.api.Via
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver-snapshot pin: a pinned Via serves `clusters` and `triage`
  * from a driver-held snapshot, row for row what the unpinned Spark verbs
  * return on the same warehouse — rule enforcement, NULL and
  * wrong-dimension edges, group ties, the degenerate triage edge, refresh
  * and compaction included — and launches no Spark job per call,
  * whatever the store's size against `clustersServeThreshold`. */
class ServingSnapshotSpec extends SparkSpec {

  private val T0 = 1700000000L
  private val Now = T0 + 2000L * 60
  private val Lo = T0 + 100L * 60
  private val Hi = T0 + 600L * 60

  /** Promotion-shaped rows: hash `h<id % hashes>`, so ids past `hashes`
    * repeat a hash (a later window of the same cluster, other body);
    * bodies share a vocabulary so text filters hit many rows, dense = the
    * embedding kernel over the body. */
  private def regular(n: Int, idOffset: Long, hashes: Int): DataFrame =
    spark.range(n).selectExpr(
      s"id + $idOffset as id",
      "'event_cluster' as entity_type",
      s"concat('h', (id + $idOffset) % $hashes) as rhythm_hash",
      "if(id % 2 = 0, 'novelty', 'frequency') as anomaly_type",
      "concat('count=', 5 + id % 10) as anomaly_context",
      s"1700000000 + (id + $idOffset) * 60 as start_ts",
      s"1700000050 + (id + $idOffset) * 60 as end_ts",
      "cast(5 + id % 10 as bigint) as count",
      "concat('svc', id % 8) as service",
      "if(id % 5 = 0, 'ERROR', 'INFO') as severity",
      s"concat('op ', (id + $idOffset) % 25, ' failed with code ', (id + $idOffset) % 7, ' for user ', id + $idOffset) as body",
      "array(named_struct('ts_sec', 1700000000 + id, 'body', 'sample')) as sample_logs")
      .withColumn("dense", GraftFunctions.embedText(col("body")))
      .withColumn("dt", graft.analysis.DtPrune.dtOf(col("start_ts")))
      .drop("id")

  /** The edges: a NULL start_ts, a NULL body, a wrong-dimension and a
    * NULL vector, a NULL hash, and two rows of one hash tied on start_ts
    * and body (so on score too) that only `dt` orders. Every body but the
    * NULL one holds "widget", so a "widget" filter ranks the
    * unscored rows too. */
  private def edges: DataFrame = {
    import spark.implicits._
    val tieTs = T0 + 500L * 60
    Seq[(String, Option[Long], Option[String], String, Int, Long)](
      ("h_nullts", None, Some("widget null start"), "emb", 0, 5L),
      ("h_nullbody", Some(T0 + 610L * 60), None, "emb", 0, 6L),
      ("h_wrongdim", Some(T0 + 620L * 60), Some("widget wrong dimension"), "short", 0, 7L),
      ("h_nulldense", Some(T0 + 630L * 60), Some("widget null vector"), "null", 0, 8L),
      (null, Some(T0 + 640L * 60), Some("widget orphan row"), "emb", 0, 9L),
      ("h_tie", Some(tieTs), Some("widget tied twin"), "emb", 1, 11L),
      ("h_tie", Some(tieTs), Some("widget tied twin"), "emb", 0, 10L))
      .toDF("rhythm_hash", "start_ts", "body", "vec", "dt_shift", "count")
      .select(
        lit("event_cluster").as("entity_type"), col("rhythm_hash"),
        lit("novelty").as("anomaly_type"),
        concat(lit("count="), col("count")).as("anomaly_context"),
        col("start_ts"), (col("start_ts") + 50).as("end_ts"), col("count"),
        lit("edge").as("service"), lit("WARN").as("severity"), col("body"),
        array(struct(lit(T0).as("ts_sec"), lit("sample").as("body")))
          .as("sample_logs"),
        when(col("vec") === "emb",
            GraftFunctions.embedText(coalesce(col("body"), lit("widget"))))
          .when(col("vec") === "short",
            array(lit(0.1f), lit(0.2f), lit(0.3f)))
          .as("dense"),
        date_add(graft.analysis.DtPrune.dtOf(coalesce(col("start_ts"), lit(T0))),
          col("dt_shift")).as("dt"))
  }

  /** A warehouse whose Tier-2 is `n` regular rows in two appends plus the
    * edges, with an active suppression, an expired one and a patch. */
  private def warehouse(n: Int): String = {
    val wh = Files.createTempDirectory("snapwh").toString
    val hashes = n * 2 / 3
    regular(n / 2, 0L, hashes).write.partitionBy("dt").parquet(s"$wh/tier2")
    regular(n - n / 2, n / 2L, hashes).unionByName(edges)
      .write.mode("append").partitionBy("dt").parquet(s"$wh/tier2")
    val rules = new Via(spark, wh).rules
    rules.suppress("h3", ttlSec = 86400L * 30, nowSec = Now - 60)
    rules.suppress("h4", ttlSec = 10L, nowSec = Now - 600) // expired
    rules.patch("h5")
    wh
  }

  private def rowStrs(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every kind of serving call, by name. */
  private def calls(via: Via): Seq[(String, () => DataFrame)] = Seq(
    "clusters" -> (() => via.clusters(Now)),
    "clusters range" -> (() => via.clusters(Now, Some(Lo), Some(Hi))),
    "clusters from" -> (() => via.clusters(Now, startTs = Some(Lo))),
    "clusters text" -> (() => via.clusters(Now, textFilter = Some("failed user"))),
    "clusters text range" ->
      (() => via.clusters(Now, Some(Lo), Some(Hi), Some("failed"))),
    "clusters widget" -> (() => via.clusters(Now, textFilter = Some("widget"))),
    "clusters no tokens" -> (() => via.clusters(Now, textFilter = Some("!!"))),
    "clusters no match" -> (() => via.clusters(Now, textFilter = Some("zebra"))),
    "triage pos+neg" -> (() => via.triage(Seq("h7", "h8"), Seq("h9"))),
    "triage pos" -> (() => via.triage(Seq("h7"), Nil)),
    "triage edge examples" ->
      (() => via.triage(Seq("h_tie", "h_wrongdim"), Seq("h_nulldense", "h1"))),
    "triage absent positive" -> (() => via.triage(Seq("nope"), Nil)),
    "triage absent negative" -> (() => via.triage(Seq("h7"), Seq("nope"))))

  private def assertParity(pinned: Via, unpinned: Via, stage: String): Unit =
    calls(pinned).zip(calls(unpinned)).foreach { case ((name, p), (_, u)) =>
      assert(rowStrs(p()) == rowStrs(u()), s"$stage: $name")
    }

  for (n <- Seq(18, 240)) test(s"pinned snapshot == unpinned scan ($n-row store)") {
    val wh = warehouse(n)
    val pinned = new Via(spark, wh)
    val unpinned = new Via(spark, wh)
    pinned.pinServing()
    assertParity(pinned, unpinned, "pinned")

    // the edges are exercised, not just present
    val widget = pinned.clusters(Now, textFilter = Some("widget")).collect()
    if (n < 100) {
      assert(widget.exists(r => r.getAs[String]("rhythm_hash") == "h_wrongdim" &&
        r.isNullAt(r.fieldIndex("score"))), widget.mkString("\n"))
      assert(widget.exists(_.isNullAt(0)), "the NULL-hash group is served")
    }
    val tie = pinned.clusters(Now).collect()
      .filter(_.getAs[String]("rhythm_hash") == "h_tie")
    assert(tie.map(_.getAs[Long]("count")).toSeq == Seq(10L),
      "the tied pair resolves by dt asc")
    val served = pinned.clusters(Now).collect().map(_.getAs[String]("rhythm_hash"))
    assert(!served.contains("h3") && !served.contains("h5") && served.contains("h4"),
      "active suppression and patch drop, the expired suppression does not")

    // append -> refresh -> parity again
    regular(30, 5000L, 40).write.mode("append").partitionBy("dt")
      .parquet(s"$wh/tier2")
    pinned.refreshServing()
    assertParity(pinned, unpinned, "refreshed")

    // a Tier-2 compaction under the pin -> repin -> parity again
    val acts = pinned.maintainIndexes(smallFileThreshold = 1)
    assert(acts.find(_.target == "tier2").get.action == "compact",
      acts.mkString("; "))
    assert(acts.find(_.target == "serving").get.action == "repin",
      acts.mkString("; "))
    assertParity(pinned, unpinned, "repinned")
    pinned.unpinServing()
  }

  test("pinned clusters, clusters_text and triage start no Spark job") {
    val wh = warehouse(240)
    val via = new Via(spark, wh)
    via.pinServing()
    val served = Seq(
      () => via.clusters(Now, Some(Lo), Some(Hi)),
      () => via.clusters(Now, textFilter = Some("failed user")),
      () => via.triage(Seq("h7", "h8"), Seq("h9")))
    served.foreach(_().collect()) // loads the rules memo once
    assert(jobsStarted(served.foreach(_().collect())) == 0)
    // a refresh re-reads only files the snapshot does not hold: none here
    assert(jobsStarted(via.refreshServing()) == 0)
    // the listener does see jobs: the same call unpinned starts some
    assert(jobsStarted(new Via(spark, wh).clusters(Now).collect()) > 0)
    via.unpinServing()
  }

  test("a pin at threshold = rows is a snapshot: no cache, same rows") {
    val wh = warehouse(240)
    val rows = spark.read.parquet(s"$wh/tier2").count()
    val default = new Via(spark, wh)
    val atRows = new Via(spark, wh, clustersServeThreshold = rows)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    default.pinServing()
    atRows.pinServing()
    atRows.refreshServing()
    assert(sc.getPersistentRDDs.size == before, "a pin caches nothing")
    assertParity(atRows, default, "threshold = rows vs default")
    assert(jobsStarted(atRows.clusters(Now).collect()) == 0,
      "the pin serves from the driver")
    atRows.unpinServing()
    default.unpinServing()
  }
}
