package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The engine's own conf surface, pinned: every `"spark.graft.*"` key
  * literal in main code must be on this list, and every listed key must
  * still be read somewhere. A new kill switch or tuning knob therefore
  * has to be added here on purpose — each is a second code path that
  * needs a measured reason to exist. */
class ConfSurfaceSpec extends AnyFunSuite {

  private val Expected = Set(
    "spark.graft.cc.driverMaxPairs",
    "spark.graft.cc.edgeCheckpointMaxRows",
    "spark.graft.dimBroadcastBytes",
    "spark.graft.memo.embedBits",
    "spark.graft.memo.shingleBits",
    "spark.graft.memo.simhashBits",
    "spark.graft.serve.residentBufferMaxRows",
    "spark.graft.topKPerGroup.groupBudget")

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r

  test("spark.graft.* conf keys in src/main equal the pinned list") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    import scala.jdk.CollectionConverters._
    val found = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap((p: Path) => KeyLiteral.findAllMatchIn(Files.readString(p))
        .map(_.group(1)))
      .toSet
    assert(found -- Expected == Set.empty,
      "new spark.graft.* keys: add them to this list on purpose")
    assert(Expected -- found == Set.empty,
      "listed keys no longer read by main code: drop them from this list")
  }
}
