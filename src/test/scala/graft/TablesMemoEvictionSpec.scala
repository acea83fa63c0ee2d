package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r17 item 8: the Tables relation memo is keyed by
  * (SparkSession, path) in a global map, so without eviction a stopped
  * session's entries (and the session object itself) would be pinned for
  * the life of the JVM. This spec stops a REAL context and proves the
  * next load from any live session drops the dead entries.
  *
  * Deliberately not a [[SparkSpec]] subclass: it needs to stop the shared
  * context mid-run, and `SparkSpec.session` transparently recreates it
  * for whichever suite runs next.
  */
class TablesMemoEvictionSpec extends AnyFunSuite {

  private val SfDir = "/root/testdata/sf0.001"

  test("stopped session's memo entries are evicted on the next load") {
    val s1 = SparkSpec.session
    Tables.load(s1, SfDir, "nation")
    Tables.load(s1, SfDir, "region")
    assert(Tables.memo.keySet.stream.anyMatch(k => k._1 eq s1),
      "load should memoize under the live session")

    s1.stop()
    assert(s1.sparkContext.isStopped)
    // entries survive until someone loads again — eviction is lazy
    assert(Tables.memo.keySet.stream.anyMatch(k => k._1 eq s1))

    val s2 = SparkSpec.session
    assert(s2 ne s1, "SparkSpec must hand out a fresh session after stop")
    Tables.load(s2, SfDir, "nation")
    assert(!Tables.memo.keySet.stream.anyMatch(k => k._1 eq s1),
      "stopped session's entries must be gone after the next load")
    assert(Tables.memo.keySet.stream.anyMatch(k => k._1 eq s2),
      "live session's entry must be memoized")
  }
}
