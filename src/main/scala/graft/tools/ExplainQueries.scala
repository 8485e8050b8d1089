package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Writes one `<query>.txt` per requested query containing the
  * `.explain("formatted")` output (the plan before execution) plus the
  * physical plan that ran: the query is collected through the SAME
  * Dataset, so its adaptive plan finalizes with the runtime re-planning
  * in place (a side write would run a separate QueryExecution and leave
  * this one's plan initial).
  *
  * Usage: runMain graft.tools.ExplainQueries <outDir> <q1,q2,...> [sfDir]
  * A query argument matches by prefix (q63 matches q63_canonical).
  */
object ExplainQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainQueries <outDir> <q1,q2,...> [sfDir]")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val wanted = args(1).split(",").toSet
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.fromEnv()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          df.collect()
          val finalPlan = df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan.toString
            case p => p.toString
          }
          val body = s"# $name ($sfDir)\n\n== explain(formatted) ==\n\n" +
            formatted + "\n\n== post-execution (final AQE) physical plan ==\n\n" +
            finalPlan + "\n"
          Files.write(outDir.resolve(s"$name.txt"),
            body.getBytes("UTF-8"))
          println(s"WROTE $name")
        } catch {
          case e: Throwable => println(s"FAIL $name: $e")
        }
      }
    spark.stop()
  }
}
