package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Arguments of one harness run (passed by `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, inputs: String, data: String)

/** What one run measured: operation counts, failures (op → reason),
  * end-to-end values, per-layer values and, for the query gate, the
  * parquet output of each query for the digest check. */
final class Result {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val outputs = mutable.LinkedHashMap.empty[String, String]

  /** Run one checked operation: an exception is a failure, never fatal.
    * Callable from several threads. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch { case e: Throwable =>
      fail(op, String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300))
      None
    }
  }
  def fail(op: String, reason: String): Unit = synchronized {
    failures += op -> reason
    System.err.println(s"[perfbench] FAIL $op: $reason")
  }
  /** A check that is not itself a timed operation. */
  def check(op: String, ok: Boolean, reason: => String): Unit = {
    synchronized { attempted += 1 }
    if (!ok) fail(op, reason)
  }
}

/** The measured phase of a workload: its wall interval and how many
  * timed operations ran inside it (the per-op denominators). */
final case class Phase(t0Ms: Double, t1Ms: Double, ops: Long)

final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Args,
    val cores: Int) {
  def work(sub: String): String = {
    val p = Paths.get(args.work, sub).toAbsolutePath
    Files.createDirectories(p)
    p.toString
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Mean of the slowest quarter: a tail that averages many samples
    * instead of reading one order statistic. */
  def slowQuarterMean(xs: Seq[Double]): Double = {
    val slow = xs.sorted.takeRight(math.max(1, xs.size / 4))
    if (slow.isEmpty) 0.0 else slow.sum / slow.size
  }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Main {
  private val started = Clock.nowMs
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs - started) / 1000}%.1f s: $what")

  /** The one session every workload uses: [[graft.SessionTuning.tuned]] on
    * all local cores, exactly as the gate's `graft.Bench` builds it. The
    * two directory settings only keep Spark's temporary files inside the
    * run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.SessionTuning.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("work"), m("inputs"), m.getOrElse("data", ""))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, args.work)
    val tracer = new Tracer(spark.sparkContext, args.trace)
    val ctx = new Ctx(spark, tracer, args, cores)
    val res = new Result
    log("session ready")
    val phase = args.workload match {
      case "gate_sf0.01" => Gate.run(ctx, res)
      case "serve_mixed" => Serve.run(ctx, res)
      case w => sys.error(s"unknown workload $w")
    }
    log("workload done")
    if (args.trace) {
      sparkLayers(ctx, phase, res)
      Json.writeSpans(s"${args.work}/spans.jsonl", tracer.allSpans(),
        tracer.workBySpan())
    }
    Json.writeResult(s"${args.work}/result.json", res)
    spark.stop()
    log("session stopped")
  }

  /** The ROADMAP rule that per-layer times sum to within 10% of their
    * end-to-end counterpart, checked on a traced run: `layerMs` is the
    * sum of the layer calls, `wallMs` the wall time around them, clocked
    * separately. A ratio outside the rule is a failed check. */
  def layerRule(res: Result, what: String, layerMs: Double, wallMs: Double): Unit = {
    val ratio = layerMs / math.max(wallMs, 1e-9)
    res.layers("trace.layer_sum_ratio") = ratio
    res.check("trace.layer_sum", math.abs(ratio - 1) <= 0.10,
      f"layer times of the $what sum to $ratio%.3f of their wall time")
  }

  /** Scheduler- and JVM-level layer metrics over the measured phase. */
  private def sparkLayers(ctx: Ctx, ph: Phase, res: Result): Unit = {
    val l = ctx.tracer.listener.get
    org.apache.spark.ListenerBusAccess.drain(ctx.spark.sparkContext)
    val ops = math.max(1L, ph.ops).toDouble
    val (runMs, spanRunMs, spill) = l.tasksBetween(ph.t0Ms, ph.t1Ms)
    res.layers("spark.task_busy_frac") =
      runMs / math.max(1.0, (ph.t1Ms - ph.t0Ms) * ctx.cores)
    // the same rule for Spark work: the executor time of the measured
    // phase must belong to jobs of the timed layer calls
    val attributed = spanRunMs / math.max(1.0, runMs.toDouble)
    res.layers("trace.work_attributed_frac") = attributed
    res.check("trace.work_attributed", attributed >= 0.90,
      f"only $attributed%.3f of the phase's executor time ran for a timed layer call")
    res.layers("spark.stage_wait_ms") = l.stageWaitMsBetween(ph.t0Ms, ph.t1Ms)._1 / ops
    res.layers("spark.jobs") = l.jobsBetween(ph.t0Ms, ph.t1Ms) / ops
    res.layers("spark.spill_mb") = spill / 1e6
    res.layers("cache.cached_plans_end") =
      ctx.spark.sparkContext.getPersistentRDDs.size.toDouble
    System.gc()
    import scala.jdk.CollectionConverters._
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    res.layers("jvm.old_gen_after_gc_mb") =
      old.map(_.getUsage.getUsed).sum / 1e6
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def writeResult(path: String, r: Result): Unit = {
    val failures = r.failures.map { case (op, why) =>
      obj(Seq("op" -> str(op), "reason" -> str(why))) }.mkString("[", ",", "]")
    val body = obj(Seq(
      "attempted" -> r.attempted.toString,
      "failures" -> failures,
      "e2e" -> obj(r.e2e.map { case (k, v) => k -> num(v) }),
      "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) }),
      "outputs" -> obj(r.outputs.map { case (k, v) => k -> str(v) })))
    Files.writeString(Paths.get(path), body + "\n")
  }

  /** One JSON object per span (jobs included), with the Spark work
    * attributed directly to it. */
  def writeSpans(path: String, spans: Seq[Span], work: Map[Long, Work]): Unit = {
    val lines = spans.map { s =>
      val w = work.getOrElse(s.id, new Work)
      obj(Seq("id" -> s.id.toString, "op" -> s.op.toString,
        "parent" -> s.parent.toString, "name" -> str(s.name),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs),
        "tasks" -> w.tasks.toString, "run_ms" -> w.runMs.toString,
        "shuffle_bytes" -> (w.shuffleWriteBytes + w.shuffleReadBytes).toString))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
