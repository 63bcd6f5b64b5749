package graft

import org.apache.spark.sql.execution.FormattedMode

/** Formatted-plan dumper for PLANS.md curation and plan review:
  * `runMain graft.PlanDump [sfDir] [nameSubstr,nameSubstr...]`
  * prints `explain("formatted")` for each matching SparkEntry query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args(1).split(',').toSeq else Seq.empty
    val spark = GraftSession.forMain()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.exists(n.contains) }
      .foreach { case (n, fn) =>
        println(s"## $n\n")
        println(fn(spark, dir).queryExecution.explainString(FormattedMode))
      }
    spark.stop()
  }
}
