package graft.tools

import java.nio.file.{Files, Paths}

/** Writes the FULL `.explain("formatted")` output of named SparkEntry
  * queries to `<outDir>/<query>_<suffix>.txt` — the r16 optimization
  * round's before/after plan evidence (PLANS.md keeps the one-line
  * operator summary; these files hold the full plans to diff). Session
  * and formatting are [[PlanDump]]'s.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = PlanDump.session("graft-explaindump")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names.split(",")) {
      try {
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          PlanDump.formatted(graft.SparkEntry.queries(name)(spark, sfDir)))
        println(s"[explain] wrote $outDir/${name}_$suffix.txt")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
