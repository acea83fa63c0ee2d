package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — ScalaTest
  * suites run sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started on this thread while `body` runs. */
  protected def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted calls")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites; sbt's forked JVM exit tears it down
    super.afterAll()
  }
}

object SparkSpec {
  private var s: SparkSession = _

  /** The shared session, recreated if a spec stopped it (the Tables memo
    * eviction spec stops a real context to prove stopped-session entries
    * are dropped — suites that run after it transparently get a fresh
    * session here). */
  def session: SparkSession = synchronized {
    if (s == null || s.sparkContext.isStopped) {
      s = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
    }
    s
  }
}
