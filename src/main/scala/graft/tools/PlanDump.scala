package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps a physical-plan audit of every SparkEntry query to PLANS.md —
  * join strategies, pushed filters, and whole-stage-codegen coverage —
  * the `.explain("formatted")` hygiene loop made repeatable.
  *
  * Usage: sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01 PLANS.md"
  */
object PlanDump {

  private val Interesting =
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct",
      "TakeOrderedAndProject", "HashAggregate", "SortAggregate",
      "ObjectHashAggregate", "Window", "Exchange", "WholeStageCodegen")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = session("graft-plandump")
    val sb = new StringBuilder
    sb.append("# Physical plan audit\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` on `$sfDir`. For each query: the\n")
    sb.append("operators that determine scale behavior (join strategy, aggregation\n")
    sb.append("mode, exchanges, codegen spans) plus the parquet PushedFilters.\n\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = formatted(fn(spark, sfDir))
        // plan tree only (details section repeats every operator)
        val tree = plan.linesIterator.takeWhile(!_.matches("^\\(\\d+\\) .*")).toSeq
        val ops = tree
          .filter(l => Interesting.exists(l.contains))
          .map(_.replaceAll("\\(\\d+\\)", "").replaceAll("^[\\s+:*-]+", "").trim)
          .filter(_.nonEmpty)
        val opCounts = ops.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
          .map { case (op, n) => if (n > 1) s"$op ×$n" else op }
        val pushed = plan.linesIterator
          .filter(_.contains("PushedFilters"))
          .map(_.trim).filterNot(_.endsWith("PushedFilters: []")).toSeq
        sb.append(s"## $name\n")
        sb.append(opCounts.mkString("- ", "\n- ", "\n"))
        if (pushed.nonEmpty) sb.append(pushed.mkString("- ", "\n- ", "\n"))
        sb.append("\n")
      } catch {
        case e: Throwable => sb.append(s"## $name\nFAILED: ${e.getMessage}\n\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }

  /** The `local[4]` session both plan tools explain queries in. */
  private[tools] def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `df`'s `.explain("formatted")` text. */
  private[tools] def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
}
