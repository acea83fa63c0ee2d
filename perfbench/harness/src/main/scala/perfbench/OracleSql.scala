package perfbench

import java.nio.file.{Files, Paths}

/** Writes the registry's DuckDB oracle SQL (`SparkEntry.oracleSql`) as one
  * JSON object to the path given as the only argument. Used by
  * `perfbench/make_expected.py` to regenerate the gate's expected outputs.
  * Run from the repo root: golden-backed rows read `golden/`. */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",\n", "}\n"))
}
