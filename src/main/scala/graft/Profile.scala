package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level profiler for ONE registered query (optimization-round
  * diagnosis tool — guide §1/§7: decide whether a stage's time is scan,
  * shuffle read, or compute BEFORE touching the code).
  *
  * `runMain graft.Profile <query> <dir> [warm]` runs the query once
  * (after an optional warmup run when `warm` is passed, so codegen +
  * parquet footer costs don't masquerade as stage cost) and prints one
  * line per completed stage: wall duration, summed executor run time,
  * shuffle read/write bytes + records, input bytes, spill, and the
  * first line of the stage's name — enough to map a stage back to the
  * plan operator that anchors it.
  *
  * Diagnosis-only: never invoked by Bench/Verify; adds no listener to
  * their sessions.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warm = args.length > 2 && args(2) == "warm"
    val spark = Sessions.local("graft-profile")
    val all = SparkEntry.queries ++ SparkEntry.benchOnlyDefs.map(d => d.name -> d.fn)

    case class Row(id: Int, wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
        deserMs: Long, inBytes: Long, shrBytes: Long, shrRecs: Long, shwBytes: Long,
        shwRecs: Long, spill: Long, fetchMs: Long, tasks: Int, name: String)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        rows += Row(si.stageId, wall, m.executorRunTime,
          m.executorCpuTime / 1000000, m.jvmGCTime,
          m.executorDeserializeTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleReadMetrics.fetchWaitTime,
          si.numTasks, si.name.linesIterator.next())
      }
    }

    def once(): Double = {
      val t0 = System.nanoTime()
      all(name)(spark, dir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.plans.Checkpoint.release()
      dt
    }

    if (warm) { val w = once(); println(f"[profile] warmup $w%.3f s") }
    spark.sparkContext.addSparkListener(listener)
    val dt = once()
    spark.sparkContext.removeSparkListener(listener)
    // listener bus is async; give it a beat to drain
    Thread.sleep(500)
    println(f"[profile] $name timed run: $dt%.3f s, ${rows.size} stages")
    println(f"${"stage"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
      f"${"gc_ms"}%7s ${"deser_ms"}%8s ${"input_mb"}%9s ${"shr_mb"}%8s ${"shr_rec"}%10s ${"shw_mb"}%8s " +
      f"${"shw_rec"}%10s ${"spill_mb"}%8s ${"fetch_ms"}%8s ${"tasks"}%5s  name")
    rows.sortBy(-_.runMs).foreach { r =>
      println(f"${r.id}%5d ${r.wallMs}%8d ${r.runMs}%8d ${r.cpuMs}%8d " +
        f"${r.gcMs}%7d ${r.deserMs}%8d ${r.inBytes / 1e6}%9.1f ${r.shrBytes / 1e6}%8.1f ${r.shrRecs}%10d " +
        f"${r.shwBytes / 1e6}%8.1f ${r.shwRecs}%10d ${r.spill / 1e6}%8.1f " +
        f"${r.fetchMs}%8d ${r.tasks}%5d  ${r.name.take(70)}")
    }
    println(f"[profile] total executor run ${rows.map(_.runMs).sum}%d ms over " +
      f"${rows.map(_.tasks).sum}%d tasks; wall $dt%.3f s")
    spark.stop()
  }
}
