package graft

/** One-shot wall-clock of a single registered query on an arbitrary
  * table directory: `runMain graft.TimeOne <query> <dir> [n]` runs the
  * query n times (default 1, NO warmup — this is the diagnosis tool
  * for one-off regime experiments, e.g. re-measuring a ScaleBench row
  * under a different SPARK_GRAFT_SHUFFLE_PARTITIONS; use graft.Bench
  * for methodology-grade numbers).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args(1)
    val n = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.local("graft-timeone")
    val all = SparkEntry.queries ++ SparkEntry.benchOnlyDefs.map(d => d.name -> d.fn)
    val times = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      all(name)(spark, dir).write.mode("overwrite").format("noop").save()
      // timestamp BEFORE the release: freeing the query's holds is
      // bookkeeping, not query time, and would land straight in
      // SCALE_CURVE growth ratios
      val dt = (System.nanoTime() - t0) / 1e9
      graft.plans.Checkpoint.release()
      dt
    }
    println(f"""{"metric":"timeone","query":"$name","dir":"$dir","secs":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
    spark.stop()
  }
}
