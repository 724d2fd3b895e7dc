package graft

/** Plan dumper: `runMain graft.Explain <query>[,<query>...] [sfDir]`
  * prints the executed (pre-AQE) physical plan of each registered
  * query, in one session — the explain-and-iterate loop the scale
  * discipline requires, runnable without an interactive shell. Each
  * plan is framed by `BEGIN_PLAN <name>` / `END_PLAN`, and the query's
  * holds are released before the next one is built, so an earlier
  * query's pins never show up as cached scans in a later plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local("graft-explain")
    val all = SparkEntry.queries ++ SparkEntry.benchOnlyDefs.map(d => d.name -> d.fn)
    // SPARK_GRAFT_EXPLAIN_MODE=formatted emits `.explain("formatted")`
    // output (numbered operators + details incl. PushedFilters and
    // ReadSchema) — the optimization-round plan-artifact format; the
    // default stays the compact executedPlan tree the specs diff.
    val formatted = sys.env.get("SPARK_GRAFT_EXPLAIN_MODE").contains("formatted")
    try names.foreach { name =>
      println("BEGIN_PLAN " + name)
      val qe = all(name)(spark, dir).queryExecution
      println(if (formatted) qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      else qe.executedPlan.toString)
      println("END_PLAN")
      graft.plans.Checkpoint.release()
    } finally spark.stop()
  }
}
