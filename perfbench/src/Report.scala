package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** The session's fingerprint, written into every artifact. */
object Env {
  private val cachedPlanKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  // per-process values (ids, ports, times) and local paths
  private val volatileKeys = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id", "spark.local.dir",
    "spark.sql.warehouse.dir", "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")

  def stamp(spark: SparkSession, cores: Int): Map[String, Any] = {
    val conf = spark.conf.getAll.toSeq.filterNot { case (k, _) => volatileKeys(k) }.sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(conf.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Map(
      "conf_hash" -> digest.take(8).map(b => f"$b%02x").mkString,
      "conf_keys" -> conf.size,
      cachedPlanKey -> spark.conf.getOption(cachedPlanKey).getOrElse("unset"),
      "cpus" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"))
  }
}

/** Reduces the tracer's spans and counters to the per-layer metrics. */
object Layers {
  def finish(run: Main.Run, gcMs: Long): Unit = {
    val t = run.tracer
    val self = t.selfSeconds.withDefaultValue(0.0)
    val l = run.layer
    def c(layer: String) = t.counters(layer)
    def get(k: String): Double = l.get(k).map(_.toString.toDouble).getOrElse(0.0)
    val sorted = run.sessionStartS.sorted
    l("session.start_s") = sorted(sorted.size / 2)
    l("ingest.land_s") = self("ingest.land")
    l("ingest.land_bytes") = run.info.getOrElse("land_bytes", 0L)
    if (!l.contains("ingest.read_s")) {
      l("ingest.read_s") = self("ingest.read")
      l("ingest.read_tasks") = c("ingest").tasks
    }
    l("bus.produce_s") = self("bus.produce")
    val runS = self("streaming.run")
    l("streaming.run_s") = runS
    l("streaming.rows_per_s") = if (runS > 0) get("streaming.input_rows") / runS else 0.0
    l("tables.write_s") = self("tables.write") + get("streaming.add_batch_ms") / 1000.0
    val v = c("views")
    l("tables.files_scanned") = v.filesScanned
    l("tables.partitions_scanned") = v.partitionsScanned
    l("tables.prune_ratio") = if (v.partitionsPresent == 0) 0.0 else v.partitionsScanned.toDouble / v.partitionsPresent
    l("views.register_s") = self("views.register")
    l("views.analysis_ms") = v.analysisMs
    l("views.optimization_ms") = v.optimizationMs
    l("views.planning_ms") = v.planningMs
    l("views.exec_s") = self("views.query") + self("views.probe")
    l("views.stages") = v.stages
    l("views.tasks") = v.tasks
    l("views.shuffle_bytes") = v.shuffleReadBytes
    l("views.broadcast_joins") = v.broadcastJoins
    l("views.rows_out_per_scanned") = if (v.scanRows == 0) 0.0 else get("views.rows_out") / v.scanRows
    val q = c("queries")
    l("queries.plan_ms") = q.analysisMs + q.optimizationMs + q.planningMs
    l("queries.exec_s") = Suite.queries.map(n => self(s"queries.$n")).sum
    l("queries.jobs") = q.jobs
    l("queries.stages") = q.stages
    l("queries.tasks") = q.tasks
    l("queries.task_run_ms") = q.taskRunMs
    l("queries.task_cpu_ms") = q.taskCpuMs
    l("queries.task_deser_ms") = q.taskDeserMs
    l("queries.gc_ms") = q.gcMs
    l("queries.shuffle_read_bytes") = q.shuffleReadBytes
    l("queries.shuffle_write_bytes") = q.shuffleWriteBytes
    l("queries.spill_bytes") = q.spillBytes
    l("queries.exchanges") = q.exchanges
    l("queries.cached_scans") = q.cachedScans
    l("queries.bnlj") = q.bnlj
    if (!l.contains("queries.cache_residue")) l("queries.cache_residue") = 0.0
    for (f <- Seq("ops", "gr", "dd", "ta", "sk", "rel", "st"))
      l(s"queries.${f}_s") = Suite.queries.filter(Suite.family(_) == f).map(n => self(s"queries.$n")).sum
    l("jvm.gc_ms") = gcMs
    l("jvm.heap_peak_mb") = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val all = t.layers.values
    l("spark.jobs") = all.map(_.jobs).sum
    l("spark.stages") = all.map(_.stages).sum
    l("spark.tasks") = all.map(_.tasks).sum
    l("spark.task_run_ms") = all.map(_.taskRunMs).sum
    l("spark.task_cpu_ms") = all.map(_.taskCpuMs).sum
    l("spark.task_deser_ms") = all.map(_.taskDeserMs).sum
    l("spark.task_wait_ms") = all.map(_.waitMs).sum
    l("spark.plan_ms") = all.map(x => x.analysisMs + x.optimizationMs + x.planningMs).sum
    l("spark.shuffle_bytes") = all.map(_.shuffleReadBytes).sum
  }
}
