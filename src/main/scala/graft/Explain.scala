package graft

/** Plan dumper: `runMain graft.Explain <query> [sfDir]` prints the
  * executed (pre-AQE) physical plan of any registered query — the
  * explain-and-iterate loop the scale discipline requires, runnable
  * without an interactive shell.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local("graft-explain")
    val all = SparkEntry.queries ++ SparkEntry.benchOnlyDefs.map(d => d.name -> d.fn)
    println("BEGIN_PLAN " + name)
    // SPARK_GRAFT_EXPLAIN_MODE=formatted emits `.explain("formatted")`
    // output (numbered operators + details incl. PushedFilters and
    // ReadSchema) — the optimization-round plan-artifact format; the
    // default stays the compact executedPlan tree the specs diff.
    val qe = all(name)(spark, dir).queryExecution
    sys.env.get("SPARK_GRAFT_EXPLAIN_MODE") match {
      case Some("formatted") => println(qe.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      case _ => println(qe.executedPlan.toString)
    }
    println("END_PLAN")
    spark.stop()
  }
}
