package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.queries._

/** `gate_sf0.01`: a fixed slice of the registered gate queries, one per
  * `graft.queries` module, over the committed sf0.01 tables, in the
  * seed's order, each materialised through the `noop` sink as
  * `graft.Bench` does.
  *
  *  - set-up: the graph index build `ann_graph` probes, repeated over
  *    fresh copies of the tables and reported as the median (the first,
  *    cold build is the slowest, so the median is a warm one);
  *  - passes over the slice, whole passes while another fits in
  *    `--seconds` (at least one). In each pass a query runs once untimed
  *    and then [[Reps]] times timed, back to back, each run after
  *    `clearCache()` as `graft.Bench` does. In the first pass the untimed
  *    run is the check run: it writes the query's output as parquet, which
  *    `run.py` digests against the committed oracle answers. A query's
  *    time is its best timed run over all passes (Bench keeps the best of
  *    its reps).
  *
  * The untimed run takes the JVM's cold start and rebuilds the query's
  * generated code, which the other queries of a pass evict: the first run
  * of a query after another query's takes 1.3 to 2 times as long as the
  * runs that follow it.
  */
object Gate {

  /** The registry's modules, in registry order (`Registry.all`). */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.queries, "LogOps" -> LogOps.queries,
    "AnomalyOps" -> AnomalyOps.queries, "VectorOps" -> VectorOps.queries,
    "TextOps" -> TextOps.queries, "SimhashOps" -> SimhashOps.queries,
    "CurationOps" -> CurationOps.queries, "StreamOps" -> StreamOps.queries,
    "MediaQueries" -> MediaQueries.queries, "SessionOps" -> SessionOps.queries,
    "CorpusOps" -> CorpusOps.queries, "HybridOps" -> HybridOps.queries)

  val SetupReps = 3
  /** Timed runs of a query per pass. */
  val Reps = 3

  def run(ctx: Ctx, res: Result): Phase = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val byName = modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m, q)) }.toMap
    // the seed's query order, made by run.py (one name per line)
    val order = Files.readAllLines(Paths.get(ctx.args.inputs, "gate_order.txt"))
      .asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val tables = Paths.get(ctx.args.data)

    def copyTables(name: String): String = {
      val dir = ctx.work(name)
      Files.list(tables).iterator.asScala.foreach(f =>
        Files.copy(f, Paths.get(dir, f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING))
      dir
    }

    // ---- set-up: the graph index `ann_graph` probes, built over fresh
    // table copies (`indexFor` memoizes per directory)
    val buildMs = (1 to SetupReps).map { rep =>
      val dir = copyTables(s"tables-$rep")
      tr.span("search.build.graph", newOp = true)(
        graft.search.GraphIndex.indexFor(spark, dir))._2
    }
    Main.log("graph builds " + buildMs.map(ms => f"${ms / 1000}%.2f s").mkString(", "))
    val dir = ctx.work(s"tables-$SetupReps")
    res.e2e("setup_s") = Stats.median(buildMs) / 1000
    res.layers("search.build.graph_s") = res.e2e("setup_s")

    val out = ctx.work("outputs")
    val runnable = order.filter { n =>
      val known = byName.contains(n)
      if (!known) res.check(n, ok = false, "query is not registered")
      known
    }
    def noop(n: String): Unit =
      byName(n)._2.fn(spark, dir).write.format("noop").mode("overwrite").save()

    // ---- passes (a query that fails its check run is not timed)
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    var phaseMs = 0.0 // wall time around each query's timed runs, for the layer rule
    var queryMs = 0.0 // every timed run, for the layer rule
    var checkMs = 0.0
    val runs = scala.collection.mutable.Map.empty[String, Vector[Double]] // for the log
    val t0 = Clock.nowMs
    val deadline = t0 + ctx.args.seconds * 1000.0
    var passes = 0
    var lastPassMs = 0.0
    while (passes == 0 || Clock.nowMs + lastPassMs < deadline) {
      val p0 = Clock.nowMs
      (if (passes == 0) runnable else times.keys.toSeq).foreach { n =>
        spark.catalog.clearCache()
        // the untimed run: the check run (parquet output) in the first
        // pass, a noop run after that
        val (ran, ms) = tr.span(s"untimed:$n", newOp = true)(res.attempt(n) {
          if (passes > 0) noop(n)
          else {
            byName(n)._2.fn(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
            res.outputs(n) = s"$out/$n"
          }
        }.isDefined)
        if (passes == 0) checkMs += ms
        if (!ran) times.remove(n)
        else {
          val l0 = Clock.nowMs
          res.attempt(n) {
            (1 to Reps).map { _ =>
              // drop cached relations so a run cannot reuse the previous
              // run's .cache() (Bench does the same per rep)
              spark.catalog.clearCache()
              val ms = tr.span(s"query:${byName(n)._1}.$n", newOp = true)(noop(n))._2
              queryMs += ms
              runs(n) = runs.getOrElse(n, Vector.empty) :+ ms
              ms
            }.min
          }.foreach(ms => times(n) = times.getOrElse(n, Vector.empty) :+ ms)
          phaseMs += Clock.nowMs - l0
        }
      }
      if (passes == 0) Main.log(f"first pass done (check runs ${checkMs / 1000}%.1f s)")
      passes += 1
      lastPassMs = Clock.nowMs - p0
    }
    val t1 = Clock.nowMs
    val perQuery = times.collect { case (n, ts) if ts.nonEmpty => n -> ts.min }
    val total = perQuery.values.sum
    res.e2e("latency_ms") = Stats.geomean(perQuery.values.toSeq)
    // twelve query times are too few for a percentile
    res.e2e("tail_latency_ms") = Stats.slowQuarterMean(perQuery.values.toSeq)
    res.e2e("throughput_per_s") = perQuery.size / math.max(total / 1000, 1e-9)
    perQuery.foreach { case (n, t) => System.err.println(f"[perfbench] $n: $t%.1f ms (runs " +
      runs(n).map(ms => f"$ms%.1f").mkString(", ") + ")") }
    Main.log(f"gate: ${perQuery.size} queries x $passes passes, " +
      f"total ${total / 1000}%.2f s/pass")

    if (tr.enabled) {
      val work = tr.workBySpan()
      val spans = tr.allSpans()
      val queryShuffle = spans.filter(_.name.startsWith("query:")).groupBy { s =>
        s.name.stripPrefix("query:").takeWhile(_ != '.') }
        .map { case (m, ss) => m -> ss.map(s => work.get(s.id).fold(0L)(w =>
          w.shuffleWriteBytes + w.shuffleReadBytes)).sum / 1e6 / (passes * Reps) }
      for ((m, _) <- modules) {
        res.layers(s"queries.$m.s") =
          perQuery.collect { case (n, t) if byName(n)._1 == m => t }.sum / 1000
        res.layers(s"queries.$m.shuffle_mb") = queryShuffle.getOrElse(m, 0.0)
      }
      // ROADMAP layer rule: the per-module query times must account for
      // the wall time of the timed runs, clocked around each query's runs
      Main.layerRule(res, "gate passes", queryMs, phaseMs)
    }
    // every run of a query, the untimed ones included, is one operation
    Phase(t0, t1, passes.toLong * perQuery.size * (Reps + 1))
  }
}
